"""Round-robin fan-out for CPU-bound narrow operator chains.

A compact parquet input (one row group, or fewer files than cores)
yields fewer scan tasks than the session has cores, and every narrow
operator chained onto that scan (per-gram md5, shingling, regex
extraction, Arrow-batched Python) then runs on that handful of tasks
while the rest of the machine idles.  One round-robin exchange of the
projected rows spreads the chain over every core; a round-robin
repartition reorders rows, nothing else, so results are identical.

Only operators whose downstream per-row cost was measured to dominate
call this (per-id probe table in OPTIMIZATION_r15.md: the same spread
on cheap-aggregation or already-shuffle-bound ids was a regression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Project ``df`` to ``cols`` (when given, so only the bytes the
    chain needs are shuffled) and round-robin repartition to the
    session's parallelism."""
    spark = df.sparkSession
    if cols:
        df = df.select(*cols)
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect exposes no sparkContext
        par = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(par)
