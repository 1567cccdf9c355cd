"""The ``query_registry`` workload: the analyst's construct + execute time.

One client runs a fixed, committed list of registry ids in a fixed order,
closed loop, over seeded tables (tables_gen.py).  Each id is timed as plan
construction (the registry callable, which may start Spark jobs of its
own) plus execution (a noop-format write, as bench.py does), each phase
under its own job group.  No pump code runs here.
"""

from __future__ import annotations

import os
import time

from . import harness
from .harness import median
from .tables_gen import generate

# The cheapest id of every queries/*_q.py module (measured at these table
# sizes on 4 cores), plus the flagship q1 and one multi-join TPC-H shape;
# a pass takes 8-18 s there.  The registry's heavy tail (dedup_components,
# dedup_simhash, parse_scaled, ...) would double a run, and its two
# heaviest ids swing by 3-4x between JVMs (BASELINE.md, the C2 lottery).
IDS = (
    "q1_pricing_summary",
    "tpch_q5_nation_volume",
    "tpch_q6_revenue_delta",
    "retention_cohort",
    "agg_bool",
    "agg_cond_suite",
    "sort_time",
    "quality_decile_by_lang",
    "sample_stratified",
    "fn_regexp_suite",
    "fn_hash_suite",
    "fn_json",
    "interval_length_sum",
    "text_token_bpe",
    "sample_kcenter",
    "xform_filename_date",
    "sim_pq_adc",
    "text_quality_gopher",
    "win_percent_rank",
    "sort_limit_topk",
    "agg_uniq_upto",
    "scan_jsonl",
    "stream_dedup",
    "unpivot_stack",
    "chunk_docs",
    "win_range_frame",
)


def setup(seed: int, scale: dict) -> tuple[str]:
    out = os.path.join(harness.WORK, "tables")
    generate(out, seed, scale["tables_sf"])
    return (out,)


def _registry():
    from logpump_spark.queries import all_oracles, all_queries

    return all_queries(), all_oracles()


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def warm_and_check(spark, inputs: tuple[str], out: dict) -> None:
    """JIT warmup pass, which is also the correctness check: every id's
    collected rows must equal its DuckDB oracle's after tools/parity.py's
    canonicalization."""
    from tools.parity import canon_rows_native, duckdb_connect

    (tables,) = inputs
    queries, oracles = _registry()
    con = duckdb_connect(tables)
    bad = []
    for name in IDS:
        try:
            df = queries[name](spark, tables)
            rows, cols = df.collect(), list(df.columns)
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            ok = sorted(cols) == sorted(ocols) and canon_rows_native(
                cols, rows
            ) == canon_rows_native(ocols, cur.fetchall())
        except Exception as e:  # noqa: BLE001 - a raising id is a failed operation
            ok = False
            print(f"query_registry: {name} raised {type(e).__name__}: {e}")
        if not ok:
            bad.append(name)
    con.close()
    out.update(check_attempted=len(IDS), check_failed=bad)


def run_pass(spark, tables: str, jobs: harness.JobCounter, tag: str) -> dict:
    """One pass over IDS: -> {id: (construct_s, execute_s)}; a raising id
    maps to None."""
    queries, _ = _registry()
    times: dict = {}
    for name in IDS:
        try:
            t0 = time.perf_counter()
            with jobs.group(f"{tag}:construct:{name}"):
                df = queries[name](spark, tables)
            t1 = time.perf_counter()
            with jobs.group(f"{tag}:execute:{name}"):
                df.write.format("noop").mode("overwrite").save()
            times[name] = (t1 - t0, time.perf_counter() - t1)
        except Exception as e:  # noqa: BLE001 - a raising id is a failed operation
            times[name] = None
            print(f"query_registry: {name} raised {type(e).__name__}: {e}")
    return times


def run(spark, inputs: tuple[str], seconds: float, out: dict) -> None:
    (tables,) = inputs
    jobs = harness.JobCounter(spark)

    def one_pass(i: int):
        harness.quiesce(spark)
        times, wall, net = harness.timed(lambda: run_pass(spark, tables, jobs, f"p{i}"))
        return times, net / wall  # the share of wanted CPU time the pass got

    runs = harness.repeat_for(seconds, one_pass)
    passes = [p for p, _ in runs]
    failed = len(out.get("check_failed", [])) + sum(
        t is None for p in passes for t in p.values()
    )
    totals = [sum(c + e for c, e in filter(None, p.values())) for p in passes]
    executes = [sum(e for _, e in filter(None, p.values())) for p in passes]
    out.update(
        attempted=out.get("check_attempted", 0) + len(IDS) * len(passes),
        failed=failed,
        primary_wall_s=median(totals),
        primary_s=median([t * share for t, (_, share) in zip(totals, runs)]),
        secondary_wall_s=median(executes),
        secondary_s=median([e * share for e, (_, share) in zip(executes, runs)]),
        passes=passes,
        extra={"passes": (len(passes), "count")},
    )
