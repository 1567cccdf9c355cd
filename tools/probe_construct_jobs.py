"""Probe: which query ids run Spark jobs during CONSTRUCTION (plan
build), and which reach a materialize() site there.

Used to populate bench.py's eager_construction set after the r16
decision to keep AQE-planned checkpoints (see operators/materialize.py
docstring): any id that executes real work at construction must have
its timer started before construction.

Usage: python tools/probe_construct_jobs.py [sf_dir]
"""

from __future__ import annotations

import gc
import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame

import logpump_spark.operators.materialize as M
from logpump_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    calls = {"n": 0}
    orig = M.materialize

    def counting(df: DataFrame, eager: bool = False):
        calls["n"] += 1
        return orig(df, eager=eager)

    M.materialize = counting
    # rebind every `from ... import materialize as _mat` alias
    import importlib
    import pkgutil

    import logpump_spark

    for modinfo in pkgutil.walk_packages(
        logpump_spark.__path__, "logpump_spark."
    ):
        try:
            mod = importlib.import_module(modinfo.name)
        except Exception:
            continue
        if getattr(mod, "_mat", None) is orig:
            mod._mat = counting
        if getattr(mod, "materialize", None) is orig:
            mod.materialize = counting

    spark = get_spark("probe_construct")
    from logpump_spark.queries import all_queries

    queries = all_queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    out = {}
    for name in sorted(queries):
        calls["n"] = 0
        group = f"construct_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            out[name] = {"err": str(e)[:80]}
            continue
        finally:
            sc.setJobGroup("idle", "idle")
        dt = round(time.perf_counter() - t0, 3)
        njobs = len(tracker.getJobIdsForGroup(group))
        out[name] = {"mat": calls["n"], "jobs": njobs, "sec": dt}
        del df
        spark.catalog.clearCache()
        gc.collect()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
