"""Service entry point — the cmd/app/main.go analog.

    python -m logpump_spark --config config.yaml [--sink DIR] [--drain]

Loads the reference-compatible YAML (config.py), builds the streaming
ingestion query over every LogDirectoryMap root, and runs until
interrupted (SIGINT/SIGTERM stop the query gracefully — R3; Spark flushes
the in-flight micro-batch and commits the checkpoint).  ``--drain``
processes everything currently on disk and exits (availableNow), the
batch-mode counterpart.  Per-micro-batch metrics (rows/sec, batch
duration, dead-letter rejects) stream to the ``logpump_spark.metrics``
logger as JSON lines — the logger.go structured-logging analog.  The
routing (TableMap, DefaultTable) reloads from ``--config`` when the file
changes (config.py).

The OS-service wrapper verbs (install/start/stop, kardianos/service in
main.go:106-133) are out of scope: cluster managers own process
lifecycle in the Spark world.
"""

from __future__ import annotations

import argparse
import logging
import signal

from .config import load_config
from .session import get_spark
from .streaming.job import build_techlog_stream
from .streaming.metrics import TechLogMetricsListener


def main() -> int:
    ap = argparse.ArgumentParser(prog="logpump_spark")
    ap.add_argument("--config", required=True, help="reference-style config.yaml")
    ap.add_argument("--sink", default="tech_log_out", help="parquet sink root")
    ap.add_argument(
        "--checkpoint", default=None, help="checkpoint dir (overrides CheckpointDir)"
    )
    ap.add_argument("--drain", action="store_true", help="process available files, then exit")
    args = ap.parse_args()

    logging.basicConfig(level=logging.INFO, format="%(message)s")
    cfg = load_config(args.config)
    # the HTTP interface is the only ClickHouse writer (sources/clickhouse.py)
    use_clickhouse = cfg.clickhouse.protocol == "http"
    if not use_clickhouse:
        logging.getLogger("logpump_spark").warning(
            "ClickHouse Protocol %r has no writer (only 'http' does): "
            "only the parquet sink runs",
            cfg.clickhouse.protocol,
        )
    spark = get_spark("logpump")
    metrics = TechLogMetricsListener().attach(spark)
    writer = build_techlog_stream(
        spark,
        list(cfg.log_directory_map.values()),
        sink_dir=args.sink,
        checkpoint_dir=args.checkpoint or cfg.checkpoint_dir,
        table_map=cfg.clickhouse.table_map,
        default_table=cfg.clickhouse.default_table,
        glob=cfg.file_pattern,
        trigger_seconds=cfg.batch_interval,
        available_now=args.drain,
        config_path=args.config,
        metrics=metrics,
        # the live ClickHouse bulk-INSERT path alongside the parquet
        # sink — the reference's data path
        clickhouse_http=cfg.clickhouse if use_clickhouse else None,
    )
    query = writer.start()

    def _stop(_sig, _frm):  # R3 graceful drain
        query.stop()

    signal.signal(signal.SIGINT, _stop)
    signal.signal(signal.SIGTERM, _stop)
    query.awaitTermination()
    # progress events are delivered async on the listener bus: give the
    # final batch's record a moment to land, then detach BEFORE the py4j
    # callback server dies with the process (otherwise the bus logs a
    # send error at shutdown), and stop the session cleanly
    import time

    deadline = time.time() + 5
    while time.time() < deadline and not metrics.batches:
        time.sleep(0.2)
    metrics.detach(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
