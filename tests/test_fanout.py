"""Pins for operators/fanout.fan_out (r15): the round-robin spread that
parallelizes CPU-bound narrow chains on few-task inputs.

- the spread is a RoundRobinPartitioning exchange over the projection;
- results are bit-identical with the spread and with a projection-only
  stand-in for it (substring_fingerprint_pairs, which also dropped its
  distinct() this round — the collect_set bucket aggregation dedups);
- the fingerprint stream runs ONE shuffle to the bucket aggregation:
  no hashpartitioning exchange below the groupBy(h) other than the
  round-robin spread (the removed distinct() was a second one).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logpump_spark.llmdata.dedup import substring_fingerprint_pairs
from logpump_spark.operators import fanout
from logpump_spark.operators.fanout import fan_out


@pytest.fixture
def docs(spark):
    rows = [
        (i, ("the quick brown fox jumps over the lazy dog %d " % (i % 3)) * 8)
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _project_only(df, *cols):
    # fan_out without its exchange: callers import it at call time, so
    # patching the module attribute reaches every call site
    return df.select(*cols) if cols else df


def test_fan_out_conf_gate(spark, docs):
    spread = fan_out(docs, "doc_id", "text")
    assert "roundrobin" in _plan(spread).lower()
    assert spread.columns == ["doc_id", "text"]


def test_substring_pairs_identical_on_off(spark, docs, monkeypatch):
    on = sorted(map(tuple, substring_fingerprint_pairs(docs).collect()))
    monkeypatch.setattr(fanout, "fan_out", _project_only)
    off = sorted(map(tuple, substring_fingerprint_pairs(docs).collect()))
    assert on == off
    assert len(on) > 0  # the planted %3 clones collide


def test_substring_pairs_single_fingerprint_shuffle(spark, docs, monkeypatch):
    # Without the spread the fingerprint stream must reach the bucket
    # groupBy(h) through exactly one hash exchange — the old distinct()
    # added a second (hashpartitioning on (doc_id, h)).
    monkeypatch.setattr(fanout, "fan_out", _project_only)
    plan = _plan(substring_fingerprint_pairs(docs))
    assert "hashpartitioning(doc_id" not in plan
