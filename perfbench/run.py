"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Workloads: ``ingest_bulk``, ``ingest_live``, ``query_registry`` (see
perfbench/README.md).  Run from the repository root.  Human-readable
metric lines go to stdout first; the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
same workload runs with spans on, followed by the per-layer sweep, and the
metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("ingest_bulk", "query_registry", "ingest_live")
# input sizes; "tiny" is for the benchmark's own smoke test
SCALES = {
    "full": {"bulk_records": 4000, "bulk_files": 8, "layer_records": 1000, "tables_sf": 1.0,
             "probe_tables_sf": 0.2},
    "tiny": {"bulk_records": 600, "bulk_files": 6, "layer_records": 300, "tables_sf": 0.2,
             "probe_tables_sf": 0.2},
}
# what primary_s / secondary_s mean per workload, for the metric lines
NAMES = {
    "ingest_bulk": ("drain_s", "landed_query_s"),
    "ingest_live": ("freshness_p50_s", "freshness_p95_s"),
    "query_registry": ("query_total_s", "query_execute_s"),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--inject", choices=("drop", "dup"), default=None,
                    help="corrupt delivery at the mock (the benchmark's own test)")
    return ap.parse_args(argv)


def line(name: str, value, unit: str) -> None:
    print(f"{name} {value:.6g} {unit}" if isinstance(value, float) else f"{name} {value} {unit}")


def run(args) -> dict:
    from perfbench import harness, pump, registry, trace
    from perfbench.load import LoadProcess

    scale = SCALES[args.scale]
    harness.prepare_env()
    rss = harness.RssSampler().start()
    tracer = harness.Tracer(bool(args.trace))
    load = LoadProcess()
    rss.skip.add(load.pid)
    spark = live = None
    out: dict = {}
    try:
        with tracer.span("setup"):
            ticks, t0 = harness.cpu_ticks(), time.perf_counter()
            with tracer.span("session.start"):
                spark = harness.start_session(harness.cpus())
            session_start = time.perf_counter() - t0
            with tracer.span("generate"):
                if args.workload == "ingest_bulk":
                    inputs = pump.bulk_setup(args.seed, scale)
                elif args.workload == "query_registry":
                    inputs = registry.setup(args.seed, scale)
            t2 = time.perf_counter()
            with tracer.span("warmup"):
                canary_s = harness.canary(spark)
                if args.workload == "query_registry":
                    registry.warm_and_check(spark, inputs, out)
                elif args.workload == "ingest_bulk":
                    pump.warm_pump(spark, load, args.seed, scale)
                else:
                    live = pump.LivePump(spark, load, "live")
                    live.warm(args.seed)
            warmup = time.perf_counter() - t2
        setup_wall_s = time.perf_counter() - t0
        setup_s = setup_wall_s * (1 - harness.steal_frac(ticks, harness.cpu_ticks()))
        ticks = harness.cpu_ticks()
        if args.inject:
            load.call("inject", args.inject)
        with tracer.span(args.workload):
            if args.workload == "ingest_bulk":
                # fewer reads when traced: the traced result holds no read
                # time, and the layer sweep needs the time (180 s per run)
                n_reads = 2 if args.trace else pump.LANDED_READS
                pump.run_bulk(spark, load, *inputs, args.seconds, out, n_reads)
            elif args.workload == "ingest_live":
                pump.run_live(live, args.seed, args.seconds, out)
            else:
                registry.run(spark, inputs, args.seconds, out)
        out.update(setup_s=setup_s, setup_wall_s=setup_wall_s,
                   session_start_s=session_start, warmup_s=warmup,
                   canary_s=canary_s,
                   steal_frac=harness.steal_frac(ticks, harness.cpu_ticks()))
        if args.trace:
            out["layers"] = trace.layer_sweep(
                spark, load, args.workload, args.seed, scale, tracer, out
            )
    finally:
        if spark is not None:
            harness.stop_jvm(spark)
        load.close()
        out["peak_rss_mb"] = rss.stop()
        tracer.dump(os.path.join(harness.WORK, f"spans-{tracer.run_id}.json"))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "logpump_spark", "streaming", "job.py")):
        print("perfbench: logpump_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    harness.adopt_orphans()
    try:
        out = run(args)
    finally:
        harness.end_children()
    failed_frac = out["failed"] / out["attempted"]
    primary, secondary = NAMES[args.workload]
    # a name without "_wall" is wall time net of CPU steal (harness.timed)
    line("setup_s", out["setup_s"], "s")
    line("setup_wall_s", out["setup_wall_s"], "s")
    line("peak_rss_mb", out["peak_rss_mb"], "MB")
    line("failed_frac", failed_frac, "ratio")
    line(primary, out["primary_s"], "s")
    line(secondary, out["secondary_s"], "s")
    if "primary_wall_s" in out:
        line(primary[:-2] + "_wall_s", out["primary_wall_s"], "s")
        line(secondary[:-2] + "_wall_s", out["secondary_wall_s"], "s")
    for k, (v, unit) in out.get("extra", {}).items():
        line(k, v, unit)
    line("env.steal_frac", out["steal_frac"], "ratio")
    if args.trace:
        metrics = out["layers"]
    else:
        # peak_rss_mb is printed but left out: across seeds it spreads by
        # more than any bound a regression check could use (README.md)
        metrics = {
            "setup_s": (out["setup_s"], "s"),
            "primary_s": (out["primary_s"], "s"),
            "secondary_s": (out["secondary_s"], "s"),
        }
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
