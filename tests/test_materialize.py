"""operators/materialize.py — the single lineage-truncation point.

Every internal materialize-once site (skewguard's ranged blocks and
capped prefix, the CC/PageRank graph tables, tokenize-once, the bigram
count table, the interval boundary table, the MAD multiplicity tables,
the triangle edge sets, the sampled fit frame) now routes through
``materialize()``, so ONE session conf upgrades the whole engine from
executor-local blocks (bench default) to reliable checkpoints for long
cluster jobs.  Pins: the conf actually engages ``checkpoint()`` (files
land in the checkpoint dir), results are unchanged either way, and a
routed QUERY site picks the conf up.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logpump_spark.operators.materialize import materialize


def _restore_checkpoint_dir(spark, prev: str | None) -> None:
    spark.sparkContext.setCheckpointDir(prev)


def _edges(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5), (7, 11)], "id_a long, id_b long"
    )


def test_default_is_local_checkpoint(spark):
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    out = materialize(df, eager=True)
    # localCheckpoint: lineage truncated, RDD checkpointed locally
    assert out.rdd.isLocallyCheckpointed() or "LogicalRDD" in (
        out._jdf.queryExecution().optimizedPlan().toString()
    )
    assert sorted(r.v for r in out.collect()) == [2 * i for i in range(10)]


@pytest.mark.parametrize(
    "conf_key", ["logpump.reliableCheckpoint"], ids=["global"]
)
def test_conf_engages_reliable_checkpoint(spark, tmp_path, conf_key):
    df = spark.range(10).withColumn("v", F.col("id") * 3)
    prev_dir = spark.sparkContext.getCheckpointDir()
    spark.conf.set(conf_key, "true")
    try:
        ckpt = tmp_path / "ckpt"
        spark.sparkContext.setCheckpointDir(str(ckpt))
        out = materialize(df, eager=True)
        assert sorted(r.v for r in out.collect()) == [3 * i for i in range(10)]
        assert any(ckpt.rglob("*")), "reliable run wrote no checkpoint files"
    finally:
        spark.conf.unset(conf_key)
        _restore_checkpoint_dir(spark, prev_dir)


def test_reliable_fails_fast_without_ckpt_dir(spark):
    df = spark.range(3)
    prev_dir = spark.sparkContext.getCheckpointDir()
    if prev_dir is not None:
        _restore_checkpoint_dir(spark, None)
    spark.conf.set("logpump.reliableCheckpoint", "true")
    try:
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            materialize(df)
    finally:
        spark.conf.unset("logpump.reliableCheckpoint")
        _restore_checkpoint_dir(spark, prev_dir)


def test_routed_site_picks_up_conf(spark, tmp_path):
    # a real r15 materialization site (connected_components' entry edge
    # set — llmdata/graph.py) under the GLOBAL conf name: same labels,
    # and the materialization demonstrably went through checkpoint()
    from logpump_spark.llmdata.graph import connected_components

    want = sorted(
        tuple(r) for r in connected_components(_edges(spark)).collect()
    )
    prev_dir = spark.sparkContext.getCheckpointDir()
    spark.conf.set("logpump.reliableCheckpoint", "true")
    try:
        ckpt = tmp_path / "ckpt"
        spark.sparkContext.setCheckpointDir(str(ckpt))
        got = sorted(
            tuple(r) for r in connected_components(_edges(spark)).collect()
        )
        assert got == want
        assert any(ckpt.rglob("*")), "routed site wrote no checkpoint files"
    finally:
        spark.conf.unset("logpump.reliableCheckpoint")
        _restore_checkpoint_dir(spark, prev_dir)
