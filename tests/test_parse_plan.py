"""The plan shape of parse_records: each shared piece of a record (the
split at ``Sql=``, the SQL scan, the header arrays) is computed once in
its own projection, and the 24-column output projection runs in
whole-stage codegen (SCALING.md §7)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from logpump_spark.techlog.parser import parse_records


@pytest.fixture(scope="module")
def records(spark, tmp_path_factory):
    # a parquet scan, not a LocalRelation, which the optimizer would fold
    path = str(tmp_path_factory.mktemp("parse_plan") / "records")
    spark.range(64).select(
        F.concat(
            F.lit("07:15.000001-"),
            F.col("id").cast("string"),
            F.lit(",DBMSSQL,1,Usr=u,Rows=3,Sql='SELECT 1',Context='c'"),
        ).alias("record"),
        F.lit("25052607.log").alias("filename"),
    ).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("split_stages", [False, True], ids=["fused", "split"])
def test_shared_pieces_appear_once_in_the_plan(records, split_stages):
    out = parse_records(records, split_stages=split_stages)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("filter(") == 1
    assert plan.count("transform(") == 2
    assert plan.count("regexp_extract(") <= 2
    # only the strconv syntax checks: the SQL scan reads its closing
    # quote off its one regexp_extract, with no RLIKE
    assert plan.count("RLIKE") == 20


@pytest.mark.parametrize("split_stages", [False, True], ids=["fused", "split"])
def test_output_projection_runs_in_whole_stage_codegen(records, split_stages):
    out = parse_records(records, split_stages=split_stages)
    assert len(out.collect()) == 64  # AQE finalizes the plan on execution
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the projection that names the 24 outputs carries a codegen stage id
    assert re.search(r"^[\s+:-]*\*\(\d+\) Project \[[^\n]* AS Timestamp#", plan, re.M), plan
