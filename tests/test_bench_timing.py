"""bench.py's timing rule and its final stdout line."""

from __future__ import annotations

import json
import random
import time

import bench


def test_time_query_charges_construction(spark):
    """A query that runs a Spark job and sleeps while it constructs is
    charged for that time as construct_s."""

    def eager_query(spark, sf_dir):
        spark.range(1000).selectExpr("sum(id)").collect()
        time.sleep(0.2)
        return spark.range(1000).selectExpr("sum(id)")

    construct_s, execute_s = bench.time_query(spark, eager_query, "unused")
    assert construct_s >= 0.2
    assert execute_s > 0


def test_final_line_fits_and_holds_the_heaviest():
    """The widest final line the 249-id registry can print (its 50
    longest names are the heaviest, at 3-digit seconds) stays under the
    2 KB tail-capture limit, and top50 holds exactly the 50 largest
    construct + execute totals."""
    names = list(bench.HEADLINE)
    assert len(names) == 249
    heavy = sorted(names, key=len, reverse=True)[:50]
    rng = random.Random(7)
    rng.shuffle(names)
    total = {n: rng.uniform(900.0, 999.9) if n in heavy else rng.uniform(0.01, 899.0)
             for n in names}
    construct = {n: t * 0.3 for n, t in total.items()}
    execute = {n: t * 0.7 for n, t in total.items()}

    line = bench.final_line(bench.bench_detail(construct, execute, 0.2345, 0.1))
    assert len(line.encode()) < 2048
    out = json.loads(line)
    assert set(out["top50"]) == set(heavy)
    assert all(abs(out["top50"][n] - total[n]) < 1e-3 for n in heavy)
    assert out["n_queries"] == 249
    assert abs(out["value"] - (out["value_construct"] + out["value_execute"])) < 1e-3
