"""Attribute the iterative-id bench lottery (dedup_components 4-7 s,
graph_pagerank / dedup_semantic +-0.8 s on untouched code) to a JVM
subsystem, with data.

The repo's documented story is "C2 compile lottery" by analogy with the
parse plane, but nobody has MEASURED which JVM counter the swing tracks
for the iterative shapes.  This probe runs each id in a FRESH JVM
(subprocess — per-JVM state is the whole point), and records next to
the wall:

- ``jit_ms``: CompilationMXBean.getTotalCompilationTime() — cumulative
  background JIT compile time (C1+C2 threads),
- ``gc_ms``: sum over GarbageCollectorMXBeans of getCollectionTime(),
- ``peak_code``(KB): CodeCache memory-pool peak usage,

all read through py4j from the SAME driver JVM that executes the stages
(local mode: driver == executors).  If across reps the wall correlates
with jit_ms, the lottery is compile scheduling (plan-shape or tiered-
compilation levers could narrow it); if with gc_ms, it is heap/GC draw
(sizing lever); if with neither, it is scheduler/IO noise and the band
just gets documented as environmental.

Run: python -m tools.lottery_attrib [--reps 8] [--sf /root/testdata/sf0.1]
One JSON line per (id, rep), then per-id summary lines with Pearson r
against each counter.  Results recorded in BASELINE.md either way.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

IDS = ["dedup_components", "graph_pagerank", "dedup_semantic"]


def _jvm_counters(spark) -> dict:
    mf = spark._jvm.java.lang.management.ManagementFactory
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    gc = 0
    it = mf.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        t = it.next().getCollectionTime()
        if t > 0:
            gc += t
    peak_code = 0
    pit = mf.getMemoryPoolMXBeans().iterator()
    while pit.hasNext():
        pool = pit.next()
        if "CodeHeap" in pool.getName() or "Code Cache" in pool.getName():
            peak_code += pool.getPeakUsage().getUsed()
    return {"jit_ms": int(jit), "gc_ms": int(gc), "peak_code_kb": peak_code // 1024}


def _run_one(sf_dir: str, qid: str) -> None:
    from logpump_spark.session import get_spark

    spark = get_spark(f"lottery_{qid}")
    import __spark_entry__ as se

    q = se.queries()[qid]
    t0 = time.perf_counter()
    q(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    out = {"id": qid, "wall": round(wall, 3)}
    out.update(_jvm_counters(spark))
    print(json.dumps(out))


def _pearson(xs: list[float], ys: list[float]) -> float:
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    vx = math.sqrt(sum((x - mx) ** 2 for x in xs))
    vy = math.sqrt(sum((y - my) ** 2 for y in ys))
    if vx == 0 or vy == 0:
        return 0.0
    return cov / (vx * vy)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=8)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--run-one")
    args = ap.parse_args()

    if args.run_one:
        _run_one(args.sf, args.run_one)
        return

    rows: dict[str, list[dict]] = {i: [] for i in IDS}
    for rep in range(args.reps):
        for qid in IDS:  # interleave ids so machine drift spreads evenly
            out = subprocess.run(
                [
                    sys.executable, "-m", "tools.lottery_attrib",
                    "--run-one", qid, "--sf", args.sf,
                ],
                capture_output=True, text=True, cwd=REPO,
            )
            lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
            if not lines:
                print(json.dumps({"rep": rep, "id": qid, "error": out.stderr[-300:]}))
                continue
            rec = json.loads(lines[-1])
            rec["rep"] = rep
            rows[qid].append(rec)
            print(json.dumps(rec))
            sys.stdout.flush()

    for qid, rs in rows.items():
        if len(rs) < 3:
            continue
        walls = [r["wall"] for r in rs]
        summ = {
            "id": qid,
            "n": len(rs),
            "wall_min": min(walls),
            "wall_med": round(statistics.median(walls), 3),
            "wall_max": max(walls),
            "r_jit": round(_pearson(walls, [r["jit_ms"] for r in rs]), 3),
            "r_gc": round(_pearson(walls, [r["gc_ms"] for r in rs]), 3),
            "jit_ms_band": [min(r["jit_ms"] for r in rs), max(r["jit_ms"] for r in rs)],
            "gc_ms_band": [min(r["gc_ms"] for r in rs), max(r["gc_ms"] for r in rs)],
        }
        print(json.dumps(summ))


if __name__ == "__main__":
    main()
