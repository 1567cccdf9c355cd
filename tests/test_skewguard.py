"""The r11 shared skew guard (operators/skewguard.py): the count-gated
two-stage exact first-N, now wired through the strict funnel and
sequenceCount alongside the r10 funnel cap.  Pins: (1) first_n_per_key
is EXACT first-N vs a plain row_number oracle, bound or not; (2) each
capped operator reproduces its uncapped result whenever cap >= per-user
volume; (3) each cap BINDS correctly when it doesn't."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from logpump_spark.operators.funnel import (
    sequence_count_adjacent,
    window_funnel_strict,
)
from logpump_spark.operators.skewguard import first_n_per_key


def _ts(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )


def _rand_rows(seed, n_users=12, hot_rows=90):
    rng = random.Random(seed)
    rows, eid = [], 0
    types = ["view", "click", "purchase", "error"]
    for u in range(1, n_users + 1):
        for _ in range(rng.randint(1, 9)):
            rows.append((u, _ts(rng.randint(0, 5000)), eid, rng.choice(types)))
            eid += 1
    for _ in range(hot_rows):  # user 0 is hot, with equal-ts ties
        rows.append((0, _ts(rng.randint(0, 200)), eid, rng.choice(types)))
        eid += 1
    rng.shuffle(rows)
    return rows


def _oracle_first_n(df, n):
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= n
    ).drop("_rn")


def _rowset(df):
    rows = [tuple(r) for r in df.select("user_id", "event_id").collect()]
    return sorted(rows, key=lambda t: ((t[0] is None, t[0] or 0), t[1]))


def test_first_n_per_key_exact_vs_row_number_oracle(spark):
    df = _mk(spark, _rand_rows(1))
    for n in (1, 5, 37, 1000):
        got = first_n_per_key(df, n)
        want = _oracle_first_n(df, n)
        assert _rowset(got) == _rowset(want), f"n={n}"


def test_strict_funnel_cap_noop_above_volume(spark):
    df = _mk(spark, _rand_rows(2))
    steps = [F.col("event_type") == s for s in ("view", "click", "purchase")]
    uncapped = window_funnel_strict(df, steps).collect()
    capped = window_funnel_strict(df, steps, max_events_per_user=10_000).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))


def test_strict_funnel_cap_binds_on_prefix(spark):
    # user 1: anchor chain sits at events 3..5; a cap of 2 removes it
    rows = [(1, _ts(0), 0, "error"), (1, _ts(1), 1, "error"),
            (1, _ts(2), 2, "view"), (1, _ts(3), 3, "click"),
            (1, _ts(4), 4, "purchase")]
    df = _mk(spark, rows)
    steps = [F.col("event_type") == s for s in ("view", "click", "purchase")]
    full = window_funnel_strict(df, steps).collect()
    assert full[0].level == 3
    capped = window_funnel_strict(df, steps, max_events_per_user=2).collect()
    assert capped == []  # no step-1 anchor inside the first 2 events


def test_seq_count_cap_noop_above_volume(spark):
    df = _mk(spark, _rand_rows(3))
    a, b = F.col("event_type") == "view", F.col("event_type") == "click"
    uncapped = sequence_count_adjacent(df, a, b).collect()
    capped = sequence_count_adjacent(
        df, a, b, max_events_per_user=10_000
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))


def test_seq_count_cap_binds(spark):
    rows = [(1, _ts(0), 0, "view"), (1, _ts(1), 1, "click"),
            (1, _ts(2), 2, "view"), (1, _ts(3), 3, "click")]
    df = _mk(spark, rows)
    a, b = F.col("event_type") == "view", F.col("event_type") == "click"
    assert sequence_count_adjacent(df, a, b).collect()[0].n_matches == 2
    got = sequence_count_adjacent(df, a, b, max_events_per_user=2).collect()
    assert got[0].n_matches == 1  # only the first adjacent pair survives


def test_first_n_null_key_routes_through_literal_arm(spark):
    # a NULL key over the cap must be capped too (isin never matches
    # NULL, so the literal route adds an explicit isNull arm)
    rows = [(None, _ts(i), i, "view") for i in range(30)]
    rows += [(5, _ts(i), 100 + i, "view") for i in range(3)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = first_n_per_key(df, 10)
    want = _oracle_first_n(df, 10)
    assert _rowset(got) == _rowset(want)
    n_null = got.filter(F.col("user_id").isNull()).count()
    assert n_null == 10  # the cap bound the NULL key


def test_first_n_join_fallback_above_literal_limit(spark, monkeypatch):
    # force the adversarial route: pretend even 1 literal is too many,
    # so the lazy flag join carries the split — result must stay exact
    from logpump_spark.operators import skewguard

    monkeypatch.setattr(skewguard, "_LITERAL_KEY_LIMIT", 0)
    df = _mk(spark, _rand_rows(9))
    got = first_n_per_key(df, 7)
    want = _oracle_first_n(df, 7)
    assert _rowset(got) == _rowset(want)


def test_first_n_identity_when_cap_never_binds(spark):
    df = _mk(spark, _rand_rows(11, hot_rows=20))
    out = first_n_per_key(df, 10_000)
    # the gate returns the input frame itself — plan untouched
    assert out is df


def test_first_n_capped_result_is_materialized(spark):
    # r15: when the cap binds, the gate's output (<= n rows per key by
    # construction) is localCheckpoint-materialized so a multi-reference
    # caller (window_funnel references it once per step) runs the
    # detector/flag-join/ranking-window subtree ONCE, not per reference
    # — interleaved A/B measured funnel_steps_capped 0.76x.  The pin:
    # the returned plan is a truncated-lineage RDD scan, and the values
    # are still the exact first-N.
    df = _mk(spark, _rand_rows(9))
    got = first_n_per_key(df, 7)
    assert got is not df
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, plan[:500]
    assert _rowset(got) == _rowset(_oracle_first_n(df, 7))


def _restore_checkpoint_dir(spark, prev: str | None) -> None:
    # setCheckpointDir(null) clears it JVM-side (Option(null) -> None);
    # leaving it pointed at a pytest tmp_path would leak cleaned-up
    # session state into later tests (ADVICE r14)
    spark.sparkContext.setCheckpointDir(prev)


def _route_sessionize(df):
    from logpump_spark.operators.sessionize import sessionize

    return sessionize(df, hot_key_threshold=1).select(
        "user_id", "event_id", "session_no"
    )


def _route_segwin(df):
    from logpump_spark.operators.segwin import moving_rows_frame

    base = df.select(
        "user_id", "ts", "event_id", (F.col("event_id") * 3).alias("v")
    )
    return moving_rows_frame(base, "v", frame_rows=5, hot_key_threshold=1).select(
        "user_id", "event_id", "frame_sum", "frame_n"
    )


def _route_seglead(df):
    from logpump_spark.operators.funnel import sequence_count_adjacent

    return sequence_count_adjacent(
        df,
        F.col("event_type") == "view",
        F.col("event_type") == "click",
        hot_key_threshold=1,
    )


@pytest.mark.parametrize(
    "route",
    [_route_sessionize, _route_segwin, _route_seglead],
    ids=["sessionize", "segwin_moving_rows", "seglead_seq_count"],
)
def test_ranged_blocks_reliable_checkpoint_exact(spark, tmp_path, route):
    # r14 (+r15 family sweep): the reliable-checkpoint opt-in for long
    # cluster jobs (conf logpump.reliableCheckpoint) — same
    # single materialized block assignment, exact vs the default
    # localCheckpoint path, and a durable write actually happens.  The
    # conf's documented reach is "every segmented operator's internal
    # call", so each of the three internal ranged_blocks call sites
    # (sessionize / segwin / seglead) is driven through it literally.
    df = _mk(spark, _rand_rows(7))
    want = sorted(tuple(r) for r in route(df).collect())
    prev_dir = spark.sparkContext.getCheckpointDir()
    spark.conf.set("logpump.reliableCheckpoint", "true")
    try:
        ckpt = tmp_path / "ckpt"
        spark.sparkContext.setCheckpointDir(str(ckpt))
        got = sorted(tuple(r) for r in route(df).collect())
        assert got == want
        assert any(ckpt.rglob("*")), "reliable run wrote no checkpoint files"
    finally:
        spark.conf.unset("logpump.reliableCheckpoint")
        _restore_checkpoint_dir(spark, prev_dir)


def test_ranged_blocks_reliable_fails_fast_without_ckpt_dir(spark):
    # without a checkpoint dir the opt-in fails at plan build with an
    # actionable message, not an opaque executor error at first action
    from logpump_spark.operators.skewguard import ranged_blocks

    df = _mk(spark, _rand_rows(7))
    prev_dir = spark.sparkContext.getCheckpointDir()
    if prev_dir is not None:
        _restore_checkpoint_dir(spark, None)
    spark.conf.set("logpump.reliableCheckpoint", "true")
    try:
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            ranged_blocks(
                df,
                "user_id",
                [F.col("ts").asc(), F.col("event_id").asc()],
                "_blk",
            )
    finally:
        spark.conf.unset("logpump.reliableCheckpoint")
        _restore_checkpoint_dir(spark, prev_dir)
