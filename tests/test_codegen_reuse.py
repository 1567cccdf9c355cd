"""Each generated class is compiled once per process.

Janino compiles are read from Spark's own counter,
``CodegenMetrics.METRIC_COMPILATION_TIME``, which counts one per class
that misses the codegen class cache.  A class compiles again when it was
evicted from that cache (the working set is larger than
``spark.sql.codegen.cache.maxEntries``) or when its source text changed
(a per-run value inlined into the generated code).
"""

from __future__ import annotations

import os

from logpump_spark.streaming.job import build_techlog_stream, run_stream

from .conftest import SF_SMALL


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_registry_pass_compiles_once(spark):
    """The 26 perfbench ids make about 260 classes, well over Spark's
    default 100-entry cache: at that size every warm pass recompiled
    about 260 of them.  A second pass must compile none."""
    from logpump_spark.queries import all_queries
    from perfbench.registry import IDS

    queries = all_queries()

    def one_pass() -> dict[str, int]:
        per_id = {}
        for name in IDS:
            c0 = _compiles(spark)
            queries[name](spark, SF_SMALL).write.format("noop").mode("overwrite").save()
            per_id[name] = _compiles(spark) - c0
        return per_id

    one_pass()
    second = one_pass()
    assert sum(second.values()) == 0, {k: v for k, v in second.items() if v}


# EXCP routes to its own table; the last record's 3-digit fraction fails
# the EventTime parse, so every file also feeds the dead-letter sink
RECORDS = (
    "07:15.123456-2500,DBMSSQL,0,Usr=ivanov,DataBase=erp,SessionID=7,Sql='SELECT 1'\n"
    "08:02.000001-10,EXCP,3,Usr=petrov,Event=Boom\n"
    "09:30.123-5,CALL,1,Usr=sidorov\n"
)


def test_stream_epoch_compiles_nothing_new(spark, tmp_path):
    """Micro-batch 1 runs the classes micro-batch 0 compiled: no batch
    timestamp (InsertedAt) or epoch id is inlined into generated code.
    Two availableNow drains on one checkpoint, a new file before each."""
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)
    compiled = []
    for epoch, name in enumerate(("25052607.log", "25052608.log")):
        with open(os.path.join(inp, name), "w", encoding="utf-8") as f:
            f.write(RECORDS * (epoch + 1))
        c0 = _compiles(spark)
        run_stream(
            build_techlog_stream(
                spark, inp, out, ckpt, table_map={"EXCP": "errors"}, available_now=True
            ),
            timeout_seconds=180,
        )
        compiled.append(_compiles(spark) - c0)
    assert compiled[1] == 0, compiled

    landed = spark.read.parquet(out)
    got = sorted((r._table, r.EventType, r._epoch) for r in landed.collect())
    want = sorted(
        (t, c, e)
        for e in (0, 1)
        for t, c in (("tech_log", "DBMSSQL"), ("errors", "EXCP"))
        for _ in range(e + 1)
    )
    assert got == want
    assert dict(landed.dtypes)["_epoch"] == "int"
    rejects = spark.read.parquet(os.path.join(out, "_rejects"))
    assert sorted((r.reject_reason, r._epoch) for r in rejects.collect()) == [
        ("bad_event_time", 0),
        ("bad_event_time", 1),
        ("bad_event_time", 1),
    ]
    assert sorted(os.listdir(os.path.join(out, "_table=errors", "EventDate=2025-05-26"))) == [
        "_epoch=0",
        "_epoch=1",
    ]
