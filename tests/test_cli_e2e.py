"""Subprocess-level e2e of the service entry point: the exact command
the README documents (`python -m logpump_spark --config ... --drain`)
against a real config.yaml and a real 1C log file, asserting exit code,
routed parquet output, and the metrics JSON on stderr/stdout."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_cli_drain_end_to_end(tmp_path):
    indir = tmp_path / "logs"
    indir.mkdir()
    (indir / "25052607.log").write_text(
        "07:15.123456-2500,DBMSSQL,0,Usr=ivanov,DataBase=erp,"
        "SessionID=7,Sql='SELECT 1'\n"
        "08:02.000001-10,EXCP,3,Usr=petrov,Event=Boom\n",
        encoding="utf-8",
    )
    cfg = tmp_path / "config.yaml"
    cfg.write_text(
        f"""\
LogDirectoryMap:
  Map1: "{indir}"
RescanInterval: 20
FilePattern: "*.log"
BatchSize: 100
BatchInterval: 20
ClickHouse:
  Address: "localhost:9000"
  Username: "admin"
  Password: "secret"
  Database: "logs_db"
  DefaultTable: "tech_log"
  Protocol: "tcp"
  TableMap:
    DBMSSQL: "sql_log"
    EXCP: "errors"
""",
        encoding="utf-8",
    )
    sink = tmp_path / "out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "logpump_spark",
            "--config",
            str(cfg),
            "--sink",
            str(sink),
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--drain",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd="/root/repo",
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # Protocol "tcp" has no ClickHouse writer: said once, at startup
    warned = [ln for ln in proc.stderr.splitlines() if "ClickHouse Protocol 'tcp'" in ln]
    assert len(warned) == 1 and "only the parquet sink runs" in warned[0], warned
    # routed partitioned sink materialized
    assert (sink / "_table=sql_log" / "EventDate=2025-05-26").is_dir()
    assert (sink / "_table=errors" / "EventDate=2025-05-26").is_dir()
    # metrics listener emitted at least one JSON line with row counts
    metric_lines = [
        ln
        for ln in (proc.stderr + proc.stdout).splitlines()
        if ln.startswith("{") and '"input_rows"' in ln
    ]
    assert metric_lines, "expected metrics JSON lines from the listener"
    m = json.loads(metric_lines[-1])
    assert m["input_rows"] >= 1
