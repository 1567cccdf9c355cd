"""Operational observability for the streaming job.

Reference counterpart: the service's structured logging + Sentry tee
(internal/logger/logger.go:18-139) — every batch INSERT and every
skipped row is visible to an operator.  The Spark twin is a
``StreamingQueryListener`` emitting ONE structured record per
micro-batch — rows/sec, batch duration, records parsed, dead-letter
reject count — to the standard ``logging`` machinery (route to
file/Sentry/anything via handlers), and retaining the records in memory
for tests and scraping.

The record and reject counts come from the engine's own progress event:
``build_techlog_stream`` observes its stream frame as ``techlog``, so
every progress carries ``observedMetrics["techlog"]`` (``records``,
``rejects``).  The listener only reads it; a batch without it (no data)
counts 0.
"""

from __future__ import annotations

import json
import logging
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

log = logging.getLogger("logpump_spark.metrics")


@dataclass
class AlertConfig:
    """Error-alerting thresholds — the analog of the reference's Sentry
    zap hook (internal/logger/logger.go:100-136), which tees every
    error-level event to an alerting backend.  Here the trigger is
    operational: a micro-batch whose dead-letter count or reject RATIO
    crosses a threshold, or a query dying with an exception, invokes
    ``on_alert`` exactly once per offending batch/termination with a
    structured record (route it to PagerDuty/Sentry/log from there)."""

    max_rejects_per_batch: int | None = None
    max_reject_ratio: float | None = None  # rejects / records, records > 0
    on_alert: Callable[[dict], None] | None = None  # default: log.error


class TechLogMetricsListener(StreamingQueryListener):
    """Per-micro-batch metrics: append one record per progress event to
    ``self.batches`` and emit it as a JSON log line.  ``input_rows`` is
    Spark's ``numInputRows``, which counts FILES for the wholetext
    source; ``records`` and ``rejects`` count log records."""

    def __init__(self, alerts: AlertConfig | None = None) -> None:
        self._lock = threading.Lock()
        self.batches: list[dict] = []
        self.alert_config = alerts
        self.alerts: list[dict] = []

    def _fire_alert(self, rec: dict) -> None:
        with self._lock:
            self.alerts.append(rec)
        cb = self.alert_config.on_alert if self.alert_config else None
        if cb is not None:
            cb(rec)
        else:
            log.error(json.dumps(rec))

    def _check_alerts(self, rec: dict) -> None:
        cfg = self.alert_config
        if cfg is None:
            return
        reasons = []
        if (
            cfg.max_rejects_per_batch is not None
            and rec["rejects"] > cfg.max_rejects_per_batch
        ):
            reasons.append("rejects_per_batch")
        if (
            cfg.max_reject_ratio is not None
            and rec["records"] > 0
            and rec["rejects"] / rec["records"] > cfg.max_reject_ratio
        ):
            reasons.append("reject_ratio")
        if reasons:
            self._fire_alert(
                {"event": "alert", "reasons": reasons, "batch": rec}
            )

    # -- wiring -----------------------------------------------------
    def attach(self, spark: SparkSession) -> "TechLogMetricsListener":
        spark.streams.addListener(self)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)

    # -- listener callbacks (listener-bus thread) -------------------
    def onQueryStarted(self, event) -> None:
        log.info(json.dumps({"event": "query_started", "id": str(event.id)}))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        observed = p.observedMetrics.get("techlog") or {"records": 0, "rejects": 0}
        duration = dict(p.durationMs or {})
        rps = p.processedRowsPerSecond
        rec = {
            "event": "batch",
            "batch_id": int(p.batchId),
            "input_rows": int(p.numInputRows),
            "rows_per_sec": float(rps) if rps == rps else 0.0,  # NaN -> 0
            "batch_duration_ms": int(duration.get("triggerExecution", 0)),
            "records": int(observed["records"]),
            "rejects": int(observed["rejects"]),
        }
        with self._lock:
            self.batches.append(rec)
        log.info(json.dumps(rec))
        self._check_alerts(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        err = str(event.exception) if event.exception else None
        log.info(
            json.dumps(
                {"event": "query_terminated", "id": str(event.id), "error": err}
            )
        )
        if err is not None and self.alert_config is not None:
            self._fire_alert(
                {
                    "event": "alert",
                    "reasons": ["query_failed"],
                    "id": str(event.id),
                    "error": err,
                }
            )
