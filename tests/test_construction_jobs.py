"""Plan construction starts no Spark job.

`tables.load` reads with pinned schemas, so resolving a table runs no
footer-reading inference job, and a plain registry query built on top of
it runs none either.  Jobs are counted per job group through the public
`statusTracker`."""

from __future__ import annotations

from contextlib import contextmanager

from logpump_spark.tables import TABLE_NAMES, load

from .conftest import SF_SMALL


@contextmanager
def _group(sc, name: str):
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _jobs(sc, name: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(name))


def test_loading_every_table_runs_no_job(spark):
    sc = spark.sparkContext
    with _group(sc, "construction-jobs:load"):
        frames = [load(spark, SF_SMALL, name) for name in TABLE_NAMES]
        for df in frames:
            assert df.columns
    assert _jobs(sc, "construction-jobs:load") == []


def test_constructing_a_query_runs_no_job(spark):
    import __spark_entry__ as se

    sc = spark.sparkContext
    with _group(sc, "construction-jobs:q1"):
        df = se.queries()["q1_pricing_summary"](spark, SF_SMALL)
        assert df.columns
    assert _jobs(sc, "construction-jobs:q1") == []
