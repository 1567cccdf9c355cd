"""Smoke test of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs perfbench/run.py in a subprocess (a fresh JVM each) and
checks its stdout: every named metric prints with its unit, the last line
is the result object with the metrics BENCHMARK.json names, and delivery
corrupted at the mock makes ``failed_frac`` positive.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAMED = {
    "ingest_bulk": {"drain_s": "s", "drain_wall_s": "s", "rows_per_s": "rows/s",
                    "landed_query_s": "s", "landed_query_wall_s": "s"},
    "ingest_live": {"freshness_p50_s": "s", "freshness_p95_s": "s", "freshness_samples": "count"},
    "query_registry": {"query_total_s": "s", "query_total_wall_s": "s",
                       "query_execute_s": "s", "query_execute_wall_s": "s"},
}
COMMON = {"setup_s": "s", "setup_wall_s": "s", "peak_rss_mb": "MB", "failed_frac": "ratio",
          "env.steal_frac": "ratio"}


def _run(workload: str, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    printed = {}
    for ln in lines[:-1]:
        name, value, unit = ln.split()
        printed[name] = (float(value), unit)
    return printed, json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(NAMED))
def test_every_metric_prints_with_its_unit(workload):
    printed, result = _run(workload)
    for name, unit in {**COMMON, **NAMED[workload]}.items():
        assert printed[name][1] == unit, name
    assert printed["failed_frac"][0] == 0
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    expected = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected


@pytest.mark.parametrize("fault", ["drop", "dup"])
def test_corrupted_delivery_is_counted(fault):
    printed, result = _run("ingest_bulk", "--inject", fault)
    assert printed["failed_frac"][0] > 0
    assert not result["correct"] and result["failed"] > 0


def test_traced_run_reports_every_layer_metric():
    _, result = _run("query_registry", "--trace", "1")
    expected = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
