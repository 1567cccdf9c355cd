"""The r12 segmented lead (operators/seglead.py) is a re-expression:
nxt1..nxtD must be bit-identical to plain F.lead(j) for any block
assignment, and the strict funnel / sequenceCount built on it must
match their plain formulations on hot corpora.  Tests plant the failure
modes the design doc names: hot keys forcing the segmented branch,
sliver blocks smaller than the lookahead depth (the heads-carry
inductive case), equal-ts ties at block boundaries, NULL timestamps,
the count gate compiling the plain plan on uniform corpora, the
cap-composes-with-gate rule, and the sampled-bounds regime (range
bounds genuinely sampled, fixture size derived from the live block
constants — see _sampled_regime_rows)."""

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
from logpump_spark.operators.seglead import lead_ints_segmented

T0 = dt.datetime(2024, 1, 1)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, et string"
    )


def _rand(seed, n_users=20, hot_rows=400, null_ts_every=0, kinds=("a", "b", "c", "x")):
    rng = random.Random(seed)
    rows, eid = [], 0
    for u in range(1, n_users + 1):
        t = T0
        for _ in range(rng.randint(1, 12)):
            t = t + dt.timedelta(seconds=rng.randint(1, 500))
            rows.append((eid, t, u, rng.choice(kinds)))
            eid += 1
    t = T0
    for i in range(hot_rows):
        t = t + dt.timedelta(seconds=rng.choice([0, 0, 1, 40]))  # tie storms
        ts = None if null_ts_every and i % null_ts_every == 0 else t
        rows.append((eid, ts, 0, rng.choice(kinds)))
        eid += 1
    rng.shuffle(rows)
    return rows


def _plain_leads(df, depth):
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    out = df
    for j in range(1, depth + 1):
        out = out.withColumn(f"nxt{j}", F.lead("lbl", j).over(w))
    return out


def _with_lbl(df):
    lbl = (
        F.when(F.col("et") == "a", 1)
        .when(F.col("et") == "b", 2)
        .when(F.col("et") == "c", 3)
        .otherwise(0)
    )
    return df.select("user_id", "ts", "event_id", lbl.cast("int").alias("lbl"))


def _collect_leads(df, depth):
    cols = ["user_id", "event_id"] + [f"nxt{j}" for j in range(1, depth + 1)]
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("seed,depth", [(1, 1), (2, 3), (3, 5)])
def test_segmented_lead_equals_plain(spark, seed, depth):
    # on test-sized data every block is a sliver of 2-3 rows, so the
    # heads-carry inductive case fires on most rows
    d = _with_lbl(_mk(spark, _rand(seed)))
    got = lead_ints_segmented(d, "lbl", depth)
    want = _plain_leads(d, depth)
    assert _collect_leads(got, depth) == _collect_leads(want, depth)


def test_segmented_lead_null_ts_ordering(spark):
    d = _with_lbl(_mk(spark, _rand(6, null_ts_every=11)))
    got = lead_ints_segmented(d, "lbl", 2)
    want = _plain_leads(d, 2)
    assert _collect_leads(got, 2) == _collect_leads(want, 2)


def test_segmented_lead_rejects_zero_depth(spark):
    d = _with_lbl(_mk(spark, _rand(1, hot_rows=5)))
    with pytest.raises(ValueError):
        lead_ints_segmented(d, "lbl", 0)


def _steps():
    return [F.col("et") == "a", F.col("et") == "b", F.col("et") == "c"]


@pytest.mark.parametrize("seed,hot_rows", [(1, 400), (2, 1000)])
def test_strict_funnel_segmented_equals_plain_on_hot_twin(spark, seed, hot_rows):
    df = _mk(spark, _rand(seed, hot_rows=hot_rows))
    got = window_funnel_strict(df, _steps(), hot_key_threshold=50)
    want = window_funnel_strict(df, _steps(), hot_key_threshold=None)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_strict_funnel_segmented_null_ts(spark):
    df = _mk(spark, _rand(7, hot_rows=300, null_ts_every=13))
    got = window_funnel_strict(df, _steps(), hot_key_threshold=50)
    want = window_funnel_strict(df, _steps(), hot_key_threshold=None)
    assert sorted(
        map(tuple, got.collect())
    ) == sorted(map(tuple, want.collect()))


@pytest.mark.parametrize("seed", [4, 5])
def test_seq_count_segmented_equals_plain_on_hot_twin(spark, seed):
    df = _mk(spark, _rand(seed, hot_rows=500))
    got = sequence_count_adjacent(
        df, F.col("et") == "a", F.col("et") == "b", hot_key_threshold=50
    )
    want = sequence_count_adjacent(
        df, F.col("et") == "a", F.col("et") == "b", hot_key_threshold=None
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_count_gate_compiles_plain_plan_when_no_hot_key(spark):
    df = _mk(spark, _rand(8, hot_rows=0))
    for out in (
        window_funnel_strict(df, _steps()),  # default 1M threshold
        sequence_count_adjacent(df, F.col("et") == "a", F.col("et") == "b"),
    ):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "SPARK_PARTITION_ID" not in plan.upper()
        assert "RepartitionByExpression" not in plan


def test_cap_at_or_below_threshold_skips_detector_and_stays_plain(spark):
    # a cap <= hot threshold bounds every key, so the segmented detector
    # must not run and the capped-plain plan compiles even on a hot key
    df = _mk(spark, _rand(9, hot_rows=300))
    out = window_funnel_strict(
        df, _steps(), max_events_per_user=40, hot_key_threshold=50
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "SPARK_PARTITION_ID" not in plan.upper()
    # and the capped result matches the capped plain route exactly
    want = window_funnel_strict(
        df, _steps(), max_events_per_user=40, hot_key_threshold=None
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))


def _sampled_regime_rows(spark):
    """Row count guaranteed past the RangePartitioner's exhaustive
    window: its total sample budget is ~100 rows per output partition
    (3x with imbalance resampling), so 3 * 100 * n_blocks rows forces
    genuinely SAMPLED bounds.  Derived from the live constants so a
    future oversubscription bump cannot silently shrink the margin
    (the r12 fixtures hard-coded 60k for 128 blocks and went stale
    when r12 doubled the block count)."""
    from logpump_spark.operators.skewguard import (
        BLOCK_OVERSUBSCRIPTION,
        cap_shards,
    )

    n_blocks = BLOCK_OVERSUBSCRIPTION * cap_shards(spark.range(1))
    return 3 * 100 * n_blocks + 4_000


def test_segmented_equals_plain_in_sampled_bounds_regime(spark):
    # at-scale equality where range bounds are genuinely SAMPLED (not
    # the exhaustive small-input regime) — the heads table and the
    # local leads both read the one materialized block assignment
    hot = spark.range(_sampled_regime_rows(spark)).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1704067200000000) + F.col("id") * F.lit(5_000_000)
        ).alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c"), F.lit("x")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("et"),
    )
    cold = spark.range(2_000).select(
        (F.col("id") + 10_000_000).alias("event_id"),
        F.timestamp_micros(
            F.lit(1704067200000000) + (F.col("id") % 977) * F.lit(3_601_000_000)
        ).alias("ts"),
        (F.col("id") % 200 + 1).alias("user_id"),
        F.lit("a").alias("et"),
    )
    df = hot.unionByName(cold)
    got = window_funnel_strict(df, _steps(), hot_key_threshold=10_000)
    want = window_funnel_strict(df, _steps(), hot_key_threshold=None)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    got2 = sequence_count_adjacent(
        df, F.col("et") == "a", F.col("et") == "b", hot_key_threshold=10_000
    )
    want2 = sequence_count_adjacent(
        df, F.col("et") == "a", F.col("et") == "b", hot_key_threshold=None
    )
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect())
    )


def test_sequence_next_node_segmented_equals_plain(spark):
    from logpump_spark.operators.funnel import sequence_next_node

    df = _mk(spark, _rand(11, hot_rows=500))
    anchor = F.col("et") == "a"
    got = sequence_next_node(df, anchor, value_col="et", hot_key_threshold=50)
    want = sequence_next_node(df, anchor, value_col="et", hot_key_threshold=None)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # gate: uniform corpus compiles the plain plan
    cold = _mk(spark, _rand(12, hot_rows=0))
    out = sequence_next_node(cold, anchor, value_col="et")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" not in plan


def test_sequence_next_node_null_when_anchor_is_last(spark):
    from logpump_spark.operators.funnel import sequence_next_node

    rows = [(1, T0, 5, "a")]  # single anchor event, nothing after
    rows += [(i + 10, T0 + dt.timedelta(seconds=i), 6, "a") for i in range(60)]
    rows += [(999, T0 + dt.timedelta(seconds=999), 6, "b")]
    df = _mk(spark, rows)
    out = {r.user_id: r.next_value
           for r in sequence_next_node(df, F.col("et") == "a",
                                       value_col="et",
                                       hot_key_threshold=30).collect()}
    assert out[5] is None       # anchor is the user's last event
    assert out[6] == "a"        # first anchor's successor, not the b tail


def test_sequence_next_node_anchor_may_reference_any_column(spark):
    # the anchor predicate is evaluated BEFORE the narrow-row
    # projection, so it may use columns the sort never carries
    from logpump_spark.operators.funnel import sequence_next_node

    rows = [(i, T0 + dt.timedelta(seconds=i), 1 if i < 60 else 2, "a")
            for i in range(80)]
    df = _mk(spark, rows).withColumn(
        "page", F.when(F.col("event_id") % 7 == 0, "/checkout").otherwise("/")
    )
    out = sequence_next_node(
        df, F.col("page") == "/checkout", value_col="et", hot_key_threshold=30
    )
    assert out.count() == 2  # both users have a /checkout anchor
