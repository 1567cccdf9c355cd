"""Streaming tech-log ingestion job: watch -> parse -> route -> sink.

Reference counterpart: the whole service (cmd/app/main.go:36-85).
Component->table routing reproduces internal/clickhouseclient/
clickhouse.go:63-128 and config.yaml:25-27.

Scale design: the reference loops over component groups and issues one
INSERT each (clickhouse.go:65-72).  A loop of per-group writes would be a
driver-side bottleneck with many components; instead the routing is a
COLUMN (map literal lookup) and the sink is ONE write partitioned by
(table, EventDate) — every component lands in its own directory tree in a
single distributed job, and partition-pruned reads replace per-table
scans.  EventDate partitioning mirrors the MergeTree PARTITION BY
(README.md:130).
"""

from __future__ import annotations

import json
import os
from itertools import chain

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..techlog.parser import parse_records
from ..techlog.reader import load_whole_files, records_from_text
from ..techlog.transform import to_techlog_rows


def table_routing_column(
    table_map: dict[str, str], default_table: str, component: Column | str = "EventType"
) -> Column:
    """Component -> sink table, unknown components to the default
    (clickhouse.go:65-72).  A literal map lookup stays in codegen — no
    join, no UDF."""
    comp = F.col(component) if isinstance(component, str) else component
    if not table_map:
        return F.lit(default_table)
    routing = F.create_map(*[F.lit(x) for x in chain.from_iterable(table_map.items())])
    # try_element_at, not getItem(Column) (deprecated since 3.0) and not
    # element_at (throws on missing keys under Spark 4's default ANSI
    # mode) — missing component must coalesce to the default table
    return F.coalesce(F.try_element_at(routing, comp), F.lit(default_table))


def route_and_write(
    rows: DataFrame,
    base_path: str,
    table_map: dict[str, str],
    default_table: str = "tech_log",
    *,
    epoch_id: int,
) -> None:
    """One partitioned write for all tables:
    base_path/_table=<t>/EventDate=<d>/_epoch=<epoch_id>/.

    ``epoch_id`` is the foreachBatch micro-batch id.  The write is a
    dynamic partition overwrite of the rows' own (table, date, epoch)
    partitions, so it is IDEMPOTENT under micro-batch replay: a replayed
    batch rewrites its partitions instead of appending duplicates.  (The
    reference instead DROPS failed batches outright, batch.go:43-49 —
    data loss.)  ``partitionOverwriteMode`` is passed as a per-write
    option so no session conf is mutated."""
    part_cols = ["_table", "EventDate", "_epoch"]
    routed = rows.withColumn(
        "_table", table_routing_column(table_map, default_table)
    ).withColumn("_epoch", F.lit(int(epoch_id)))
    (
        # sortWithinPartitions = the MergeTree ORDER BY (EventDate,
        # EventTime) clustering (README.md:131): rows land time-ordered
        # inside each partition file, so time-sliced reads skip row groups
        # via parquet min/max stats.  zstd mirrors the reference's wire
        # compression choice at the storage layer (clickhouse.go:48).
        routed.sortWithinPartitions(*part_cols, "EventTime")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "zstd")
        .partitionBy(*part_cols)
        .parquet(base_path)
    )


def write_rejects(rejects: DataFrame, sink_dir: str, epoch_id: int) -> None:
    """Dead-letter write, idempotent under replay: per-epoch partition +
    dynamic overwrite, mirroring route_and_write (a replayed micro-batch
    rewrites its own ``_epoch`` partition instead of duplicating)."""
    (
        rejects.withColumn("_epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(f"{sink_dir}/_rejects")
    )


def compact_partitions(
    spark: SparkSession,
    base_path: str,
    target_files_per_partition: int = 1,
    partition_filter: str | None = None,
) -> int:
    """Small-files maintenance for the streaming sink: each micro-batch
    writes its own ``_epoch`` directory, so hot (_table, EventDate)
    partitions accumulate many small parquet files — the classic
    streaming-sink tax.  Folds the epoch directories of matching
    partitions into one compaction epoch of
    ``target_files_per_partition`` sorted files.  Run out-of-band (e.g.
    on rotated dates); returns the number of partitions rewritten.

    The ClickHouse counterpart is MergeTree's background merges — here
    it's an explicit, schedulable operator.
    """
    df = spark.read.parquet(base_path)
    if partition_filter:
        df = df.filter(partition_filter)

    # Fold the epoch directories of every not-yet-compacted (_table,
    # EventDate) group into ONE fresh compaction epoch, then delete the
    # consumed directories.  Crash-safety comes from a MANIFEST persisted
    # before the rewrite: `_compaction_manifest.json` (underscore prefix,
    # so Spark's file index ignores it) pins the target epoch id and the
    # exact consumed (_table, EventDate, _epoch) set.  A rerun after a
    # crash at any point first FINISHES the recorded compaction — rewrite
    # the target from the still-present consumed dirs only if it hasn't
    # landed, redo the (idempotent) deletes, drop the manifest — before
    # looking for new work.  Epochs that land while a manifest is pending
    # are not in its consumed set and are left untouched, which is what
    # prevents the rewrite-everything duplication a max-over-all-epochs
    # target id had.  An already-compacted sink (exactly one negative
    # compaction epoch per group) is a true no-op.  The residual window
    # is the non-atomic job commit of the target partition itself, the
    # same window any Hive-style table-in-place compaction has (the
    # transactional fix is a Delta/Iceberg-style commit log, out of scope
    # for a parquet sink).
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _hpath(path: str):
        return jvm.org.apache.hadoop.fs.Path(path)

    def _fs(p):
        return p.getFileSystem(hconf)

    def _exists(path: str) -> bool:
        p = _hpath(path)
        return _fs(p).exists(p)

    def _delete(path: str) -> None:
        p = _hpath(path)
        _fs(p).delete(p, True)

    manifest_file = f"{base_path}/_compaction_manifest.json"

    def _read_manifest() -> dict | None:
        if not _exists(manifest_file):
            return None
        p = _hpath(manifest_file)
        stream = _fs(p).open(p)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(text)

    def _write_manifest(man: dict) -> None:
        p = _hpath(manifest_file)
        out = _fs(p).create(p, True)
        try:
            out.write(bytearray(json.dumps(man).encode("utf-8")))
        finally:
            out.close()

    def _epoch_dir(t: str, d: str, e: int) -> str:
        return f"{base_path}/_table={t}/EventDate={d}/_epoch={e}"

    def _apply_manifest(man: dict) -> None:
        """Finish a recorded compaction idempotently: consumed set and
        target come from the manifest, never from the current listing."""
        target = int(man["target_epoch"])
        consumed = [(t, str(d), int(e)) for t, d, e in man["consumed"]]
        grps = sorted({(t, d) for t, d, _ in consumed})
        live = [(t, d, e) for t, d, e in consumed if _exists(_epoch_dir(t, d, e))]
        written = all(_exists(_epoch_dir(t, d, target)) for t, d in grps)
        if live and not written:
            keys = [f"{t}\x1f{d}\x1f{e}" for t, d, e in live]
            src = (
                spark.read.parquet(base_path)
                .filter(
                    F.concat_ws(
                        "\x1f",
                        F.col("_table"),
                        F.col("EventDate").cast("string"),
                        F.col("_epoch").cast("string"),
                    ).isin(keys)
                )
                .withColumn("_epoch", F.lit(target))
            )
            (
                src.repartition(target_files_per_partition * len(grps), "_table", "EventDate")
                .sortWithinPartitions("EventTime")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", "zstd")
                .partitionBy("_table", "EventDate", "_epoch")
                .parquet(base_path)
            )
        for t, d, e in consumed:
            _delete(_epoch_dir(t, d, e))
        _delete(manifest_file)

    pending = _read_manifest()
    if pending is not None:
        _apply_manifest(pending)
        # the listing changed; re-scan before planning new work
        df = spark.read.parquet(base_path)
        if partition_filter:
            df = df.filter(partition_filter)

    # bounded the same way: tables x dates x epochs-since-last-compaction
    epochs = [
        (r._table, str(r.EventDate), int(r._epoch))
        for r in df.select("_table", "EventDate", "_epoch").distinct().collect()
    ]
    by_group: dict[tuple[str, str], list[int]] = {}
    for t, d, e in epochs:
        by_group.setdefault((t, d), []).append(e)
    # a group is "already compacted" when it is exactly one negative
    # (compaction-output) epoch — such groups are skipped, making rerun
    # on a fully-compacted sink a true no-op; anything with streaming
    # epochs or multiple dirs still folds
    groups = sorted(
        g for g, es in by_group.items() if len(es) > 1 or any(e >= 0 for e in es)
    )
    if not groups:
        return 0
    consumed = [(t, d, e) for (t, d) in groups for e in sorted(by_group[(t, d)])]
    # strictly larger magnitude than every existing epoch -> no collision
    # with either streaming epochs or prior compaction outputs
    target_epoch = -(max(abs(e) for _, _, e in epochs) + 2)
    man = {"target_epoch": target_epoch, "consumed": consumed}
    _write_manifest(man)
    _apply_manifest(man)
    return len(groups)


def build_techlog_stream(
    spark: SparkSession,
    input_dir: str | list[str],
    sink_dir: str,
    checkpoint_dir: str,
    table_map: dict[str, str] | None = None,
    default_table: str = "tech_log",
    glob: str = "*.log",
    trigger_seconds: int | None = 20,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    config_path: str | None = None,
    metrics=None,
    clickhouse_http=None,
):
    """Assemble (not start) the streaming query.

    - ``input_dir`` accepts a list — the reference's LogDirectoryMap
      watches several roots (config.yaml LogDirectoryMap); the streams
      union into one query so routing/sink/checkpoint stay single
    - ``pathGlobFilter`` + ``recursiveFileLookup``: S1 glob walk
    - new-file discovery per micro-batch: S4/S5 (inotify + rescan)
    - ``checkpointLocation``: T1-T5 offset store (stronger: per-batch)
    - ``trigger_seconds``: R2 batch window (default 20 s, config.yaml:15)
    - ``maxFilesPerTrigger``: R2 size cap analog / admission control
    - ``available_now=True``: drain-everything-then-stop (used in tests,
      and the graceful-drain analog of R3)
    - ``config_path``: S9 config hot-reload (scan.go:24-52) — the sink
      stats the file each micro-batch and, on mtime change, re-parses it
      (same sanitize+validate path) and swaps the routing TableMap /
      DefaultTable for subsequent batches.  Per-batch granularity instead
      of the reference's inotify immediacy; a config that fails to parse
      or validate keeps the previous routing (reload-on-change must never
      take the pipeline down mid-stream).
    - ``clickhouse_http``: a ``ClickHouseConfig`` — in addition to the
      parquet sink, each micro-batch bulk-INSERTs its rows over the
      ClickHouse HTTP interface (sources/clickhouse.py
      write_techlog_http) in ONE POST job for all routed tables: each
      partition sends one INSERT per table it holds — the reference's
      stream -> ClickHouse data path end-to-end (batch sends,
      clickhouse.go:79-125).  A failed INSERT fails the batch,
      which Spark replays (checkpoint + per-epoch idempotent parquet
      keeps the local sink consistent).
    - ``metrics``: a ``TechLogMetricsListener`` (streaming/metrics.py) —
      the sink reports each epoch's dead-letter count to it, observed on
      the dead-letter write (no extra job), so the per-batch progress
      record carries rejects alongside rows/sec and batch duration (the
      reference's structured-logging surface, logger.go).  Register it
      with ``metrics.attach(spark)``.

    A micro-batch runs at most three Spark jobs: the parquet write (which
    parses and caches the batch), the ClickHouse POST job when
    ``clickhouse_http`` is set, and the dead-letter write.

    Returns a DataStreamWriter; call ``.start()`` (or use
    ``run_stream``).
    """
    dirs = [input_dir] if isinstance(input_dir, str) else list(input_dir)

    def _one(d: str):
        reader = spark.readStream
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return load_whole_files(reader, d, glob)

    files = _one(dirs[0])
    for d in dirs[1:]:
        files = files.unionByName(_one(d))
    # Fused projection shape, explicitly: the pump is a LONG-LIVED
    # process, so the parse-plane C2 compile storm (BASELINE.md,
    # round-14 resolution) is a one-time cost that amortizes away,
    # while the split shape's round-robin exchange would recur on
    # EVERY micro-batch — the exact deployment the documented trade
    # says should run fused.  One-shot batch parses keep the split
    # default.
    entries = parse_records(records_from_text(files), split_stages=False)
    routing = {"mtime": None, "tmap": table_map or {}, "default": default_table}

    def _maybe_reload() -> None:
        if not config_path:
            return
        try:
            mtime = os.path.getmtime(config_path)
        except OSError:
            return
        if mtime == routing["mtime"]:
            return
        try:
            from ..config import load_config

            cfg = load_config(config_path)
            cfg.validate()
        except Exception:
            # unparseable/invalid config: keep routing as-is; the next
            # mtime change retries (matching the reference's keep-running
            # behavior on a bad reload)
            routing["mtime"] = mtime
            return
        routing.update(
            mtime=mtime,
            tmap=cfg.clickhouse.table_map,
            default=cfg.clickhouse.default_table,
        )

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        _maybe_reload()
        # the sink runs up to three jobs over this micro-batch (parquet
        # write, ClickHouse POST, dead-letter write); cache it so the file
        # scan + record parse runs ONCE per batch, not once per job
        batch_df.persist()
        try:
            rows, rejects = to_techlog_rows(batch_df)
            route_and_write(
                rows, sink_dir, routing["tmap"], routing["default"], epoch_id=epoch_id
            )
            if clickhouse_http is not None:
                from ..sources.clickhouse import write_techlog_http

                # one POST job for every routed table
                write_techlog_http(
                    rows,
                    clickhouse_http,
                    table_routing_column(routing["tmap"], routing["default"]),
                )
            if metrics is not None:
                # the reject count rides on the dead-letter write: no job
                seen = Observation()
                rejects = rejects.observe(seen, F.count(F.lit(1)).alias("rejects"))
            # dead-letter branch (improvement over the silent drop,
            # clickhouse.go:92-95): keep rejects auditable next to the sink
            write_rejects(rejects, sink_dir, epoch_id)
            if metrics is not None:
                metrics.record_rejects(epoch_id, seen.get["rejects"])
        finally:
            batch_df.unpersist()

    writer = (
        entries.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer


def run_stream(writer, timeout_seconds: int | None = None) -> None:
    """Start and await a streaming query (blocks until drained for
    availableNow triggers)."""
    q = writer.start()
    q.awaitTermination(timeout_seconds)
    if q.isActive:
        q.stop()
