"""Interval sweep-line operators (ClickHouse ``maxIntersections`` /
``intervalLengthSum`` analogs) over (start, end) interval sets.

See queries/intervals_q.py for the boundary-order semantics and the
100 TB design discussion; the cores live here so the streaming twins
(tests/test_stream_intervals.py) and the registry queries share one
implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .materialize import materialize as _mat

_HOUR_US = 3600 * 1_000_000


def max_concurrent_intervals(
    intervals: DataFrame,
    start_col: str = "session_start",
    end_col: str = "session_end",
) -> DataFrame:
    """Peak number of simultaneously-open intervals and the earliest
    instant (epoch µs) it is reached.  Half-open [s, e) semantics: an
    interval ending at t closes before one starting at t opens, so
    touching intervals never stack and zero-length intervals count 0.

    Two-stage parallel prefix scan (never a global single-partition
    sweep over raw boundaries): per-hour net deltas → exclusive carry
    over the bounded hour table → within-hour completion with the
    carry broadcast back.  Returns one row (max_concurrent, at_us).

    r15 shape fix (guide §2.4/§5): ``intervals`` is typically an
    expensive subtree (a sessionize window over the corpus), and the
    old union-of-two-selects form embedded it TWICE, while the carry
    pass and the within-hour pass each re-planned the union — FOUR
    full sessionize executions per run.  Now one explode emits both
    boundaries in a single pass and the boundary table — 2 rows x 3
    longs per interval, corpus-REDUCED and narrow — is materialized
    once (localCheckpoint, the ranged_blocks precedent) so both prefix
    stages read it instead of re-running the upstream.  Measured
    2.4 -> ~0.9 s at sf0.1; same rows, same semantics."""
    bounds = (
        intervals.select(
            F.explode(
                F.array(
                    F.struct(
                        F.unix_micros(start_col).alias("us"),
                        F.lit(1).alias("delta"),
                    ),
                    F.struct(
                        F.unix_micros(end_col).alias("us"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("b")
        )
        .select("b.us", "b.delta")
        .withColumn("bucket", F.expr(f"CAST(us DIV {_HOUR_US} AS BIGINT)"))
        .transform(_mat)
    )

    per_bucket = bounds.groupBy("bucket").agg(F.sum("delta").alias("net"))
    wb = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    carry = per_bucket.select(
        "bucket", F.coalesce(F.sum("net").over(wb), F.lit(0)).alias("carry")
    )
    runs = bounds.join(F.broadcast(carry), "bucket")
    wi = (
        W.partitionBy("bucket")
        .orderBy(F.col("us").asc(), F.col("delta").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    runs = runs.withColumn("running", F.col("carry") + F.sum("delta").over(wi))

    m = runs.agg(
        F.max(
            F.struct(F.col("running").alias("r"), (-F.col("us")).alias("nus"))
        ).alias("m")
    )
    return m.select(
        F.col("m.r").cast("long").alias("max_concurrent"),
        (-F.col("m.nus")).cast("long").alias("at_us"),
    )


def interval_union_length(
    intervals: DataFrame,
    key_col: str = "user_id",
    start_us_col: str = "s_us",
    end_us_col: str = "e_us",
) -> DataFrame:
    """Per-key UNION length (µs) of possibly-overlapping intervals,
    overlaps counted once and TOUCHING intervals merged (+1 applies
    before -1 at equal ts).  One boundary sweep per key partition.
    Returns (key, covered_us, n_intervals).

    Same r15 single-pass boundary emission as
    ``max_concurrent_intervals`` (the union form ran the upstream
    interval subtree twice); no checkpoint here — the boundary table
    has ONE consumer chain (window then a partitioning-reusing
    groupBy)."""
    b = intervals.select(
        F.col(key_col),
        F.explode(
            F.array(
                F.struct(
                    F.col(start_us_col).alias("us"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col(end_us_col).alias("us"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("bb"),
    ).select(key_col, "bb.us", "bb.delta")

    w = W.partitionBy(key_col).orderBy(F.col("us").asc(), F.col("delta").desc())
    b = (
        b.withColumn(
            "run_incl", F.sum("delta").over(w.rowsBetween(W.unboundedPreceding, 0))
        )
        .withColumn("prev_us", F.lag("us").over(w))
        .withColumn("prev_run", F.lag("run_incl").over(w))
    )
    contrib = F.when(F.col("prev_run") > 0, F.col("us") - F.col("prev_us")).otherwise(
        F.lit(0)
    )
    return b.groupBy(key_col).agg(
        F.sum(contrib).alias("covered_us"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
    )
