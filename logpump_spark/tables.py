"""Test-table loaders for the driver's synthetic parquet star schema.

Parquet scans here are the scale-critical path: Catalyst pushes filters and
prunes columns into these scans (verify with .explain showing PushedFilters
/ ReadSchema), so query functions should select/filter on the DataFrames
returned here rather than materializing anything.

Every table is read with the pinned schema below (FIXTURES.md section 1),
so ``load`` starts no Spark job: given a schema, Spark skips its
footer-reading inference job.  The schemas equal what Spark infers from
the files except ``events.ts``.  The files store it as a zone-less
TIMESTAMP(MICROS), inferred as ``timestamp_ntz``; it is pinned as the
session-tz ``timestamp`` that ``unix_micros`` / ``window`` need, and Spark
reads the stored micros into it unchanged, which under the UTC session
every entry point pins equals casting the inferred column.
tests/test_schema_canary.py names the table whose files drift from these
schemas (a TIMESTAMP(NANOS) events file, for one, reads under neither).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SCHEMA = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLE_NAMES = tuple(SCHEMA)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H dims
# grow slowly or not at all); fact tables shuffle on their join keys.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in SCHEMA:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    return spark.read.schema(SCHEMA[name]).parquet(f"{sf_dir}/{name}.parquet")
