"""Engine-upgrade canary: the schemas `tables.load()` pins must be the
schemas the parquet files actually carry.

`load` reads every table with a fixed schema instead of inferring one, so
a check of `load().schema` alone would only restate the pinned list.  The
rule these tests hold instead: for every table at every scale factor
present, the pinned schema equals what `spark.read.parquet` infers from
the files, except `events.ts`, which the files store without a time zone
(`timestamp_ntz`) and `load` presents as the session-tz `timestamp` every
`unix_micros(ts)` / `window(ts)` call needs.  A Spark or parquet upgrade
that changes a type mapping, or a fixture that changes a column, fails
here by name instead of at execution time inside some query."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from logpump_spark.tables import TABLE_NAMES, load

from .conftest import SF_SMALL

# every scale factor the fixture directory holds (sf0.001, sf0.01, sf0.1)
SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*")))


def _expected(spark, sf_dir: str, table: str):
    """The inferred schema, with `events.ts` as session-tz timestamp."""
    inferred = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    if table == "events":
        assert inferred["ts"].dataType.simpleString() == "timestamp_ntz", inferred
        inferred["ts"].dataType = TimestampType()
    return inferred


@pytest.mark.parametrize("table", sorted(TABLE_NAMES))
def test_table_schema_stable_across_engine_upgrades(spark, table):
    assert SF_DIRS, "no scale-factor directory found"
    for sf_dir in SF_DIRS:
        got = load(spark, sf_dir, table).schema
        want = _expected(spark, sf_dir, table)
        assert got == want, (
            f"{sf_dir}/{table}: pinned schema {got.simpleString()} != files "
            f"{want.simpleString()}; fix SCHEMA in logpump_spark/tables.py, "
            "NOT the queries"
        )


def test_pinned_events_rows_equal_inferred_read(spark):
    pinned = load(spark, SF_SMALL, "events")
    inferred = spark.read.parquet(f"{SF_SMALL}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    assert pinned.count() == inferred.count() > 0
    assert pinned.exceptAll(inferred).count() == 0
    assert inferred.exceptAll(pinned).count() == 0
