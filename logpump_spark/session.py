"""SparkSession factory tuned for this engine.

Local mode is the test bed; the config block is written so the same code
runs unchanged on a multi-executor cluster: AQE handles runtime re-planning
(skew joins, partition coalescing), shuffle partitions default to the local
core count but should be ~2-3x total cluster cores at 100 TB, and Arrow is
on for the few Pandas-UDF paths (multimodal decode, stateful streaming).

Plan construction makes no py4j round trips it can avoid, so the session
turns off PySpark's per-call Python call-site capture; the trade-off is
noted at the conf.  PySpark reads that conf once per process, from the
first active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "logpump_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    On a real cluster, drop ``master`` and submit with spark-submit; every
    other conf below is cluster-appropriate as-is.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffled hash join where its size conditions hold: both sides
        # still shuffle, but neither is sorted.  Measured 0.79x over the
        # 19 join-heavy registry ids at sf0.1 (13.1 -> 10.3 s), and the
        # sort it removes grows n log n.  The planner picks it only when a
        # build side fits per-partition memory, so sort-merge stays for
        # large builds.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # No Python call-site capture per Column/DataFrame call (about five
        # py4j round trips each while building a plan).  Analysis errors
        # keep their message and JVM stack; only the Python file:line
        # "DataFrame context" is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Room for every generated class the registry makes, so each is
        # compiled (and JIT-warmed) once per process.  At Spark's default
        # of 100 a warm pass of the 26 perfbench ids recompiled ~263
        # classes; all 249 ids at sf0.01 make ~2,600.  Measured cost of
        # one 249-id pass at sf0.01: Metaspace 195 -> 215 MB, heap in use
        # after a full GC 148 -> 218 MB.  The cache is JVM-wide and sized
        # on first use, so it only takes effect on the first session.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
