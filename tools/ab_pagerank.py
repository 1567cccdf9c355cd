"""r16 A/B: pagerank_int loop-shape variants, full graph_pagerank
query (construct + noop write, the bench.py timing rule) in
interleaved single-JVM arms.

Arms:
  cur    — shipped kernel (e / nodes / outdeg checkpoints; each
           iteration joins e with pr AND outdeg)
  fold   — outdeg folded into the edge checkpoint once (e2=(u,v,deg)
           via broadcast join), iteration 1's pr join constant-folded
           (initial pr == scale for every node)
  foldw  — same but e2 built with a count window over u instead of
           the agg+join

All arms produce bit-identical ranks (checked per rep on the top-20
output).  Run: python -m tools.ab_pagerank [--reps 4] [--k 10]
[--dir DIR] — with --k the arms run on a scale_probe decade corpus.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from logpump_spark.operators.materialize import materialize as _mat

SCALE = 10**9
D_NUM, D_DEN = 85, 100
ITERS = 3


def _edges(spark, sf_dir):
    from logpump_spark.tables import load

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )


def _loop(e_deg: DataFrame, nodes: DataFrame, const_fold_first: bool) -> DataFrame:
    base = (SCALE * (D_DEN - D_NUM)) // D_DEN
    pr = nodes.select("node", F.lit(SCALE).cast("long").alias("pr"))
    for i in range(ITERS):
        if const_fold_first and i == 0:
            joined = e_deg.withColumn("pr", F.lit(SCALE).cast("long"))
        else:
            joined = e_deg.join(pr.withColumnRenamed("node", "u"), "u")
        contrib = (
            joined.select(
                F.col("v").alias("node"),
                F.floor(
                    F.col("pr") * D_NUM / (F.lit(D_DEN) * F.col("deg"))
                ).cast("long").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(base).cast("long") + F.coalesce(F.col("inflow"), F.lit(0))).alias(
                "pr"
            ),
        )
    return pr


def pr_cur(edges: DataFrame) -> DataFrame:
    from logpump_spark.llmdata.graph import pagerank_int

    return pagerank_int(edges, iters=ITERS)


def pr_fold(edges: DataFrame) -> DataFrame:
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).transform(_mat)
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .transform(_mat)
    )
    e_deg = e.join(
        e.groupBy("u").agg(F.count(F.lit(1)).alias("deg")), "u"
    ).transform(_mat)
    return _loop(e_deg, nodes, const_fold_first=True)


def pr_foldw(edges: DataFrame) -> DataFrame:
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).transform(_mat)
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .transform(_mat)
    )
    e_deg = e.withColumn(
        "deg", F.count(F.lit(1)).over(Window.partitionBy("u"))
    ).transform(_mat)
    return _loop(e_deg, nodes, const_fold_first=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--k", type=int, default=0)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--dir", default=None)
    args = ap.parse_args()

    from logpump_spark.session import get_spark

    spark = get_spark("ab_pagerank")
    data_dir = args.sf
    if args.dir:
        data_dir = args.dir
    elif args.k:
        from tools.scale_probe import build_scaled

        data_dir = tempfile.mkdtemp(prefix="ab_pr_")
        build_scaled(spark, args.sf, data_dir, args.k)
        print(f"scaled corpus at {data_dir}", file=sys.stderr)

    arms = {"cur": pr_cur, "fold": pr_fold, "foldw": pr_foldw}
    want = None

    def run(fn):
        nonlocal want
        t0 = time.perf_counter()
        pr = fn(_edges(spark, data_dir))
        out = pr.orderBy(F.col("pr").desc(), F.col("node").asc()).limit(20)
        out.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        rows = [tuple(r) for r in out.collect()]
        if want is None:
            want = rows
        assert rows == want, f"rank mismatch: {rows[:3]} vs {want[:3]}"
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()
        return round(dt, 3)

    for fn in arms.values():  # warmup
        run(fn)
    res = {k: [] for k in arms}
    for _ in range(args.reps):
        for k, fn in arms.items():
            res[k].append(run(fn))
    med = lambda xs: sorted(xs)[len(xs) // 2]
    print(json.dumps({
        "dir": data_dir,
        **{k: {"reps": sorted(v), "med": med(v)} for k, v in res.items()},
    }))


if __name__ == "__main__":
    main()
