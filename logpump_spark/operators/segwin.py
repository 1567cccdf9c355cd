"""Segmented re-expressions of bounded ROWS-frame windows.

SCALING.md §4.1 narrowed the user-key window family's blindspot in
r11: sessionize parallelizes a hot key transparently because session
numbering is a segmented prefix sum.  This module extends the same
treatment to the other shape whose cross-block carry is BOUNDED: a
trailing ROWS frame (``ROWS BETWEEN k-1 PRECEDING AND CURRENT ROW``)
needs at most k-1 rows from earlier blocks, so a hot key's window can
be range-split into blocks, computed block-locally, and patched at
block heads from a tiny carry table — EXACT, like the sessionize
rebuild, not an approximation.  (r12: the lead() chains got the same
treatment with the carry direction reversed — ``seglead.py`` — and
running distinct decomposes into first-occurrence flags + the generic
``prefix_sum_segmented`` below, so even the family's "unbounded value
set" has a bounded-carry exact form; its default threshold is set
where the balanced path's value is availability rather than latency —
see ``RUNNING_DISTINCT_HOT_THRESHOLD``.)

Carry correctness: each block contributes its last k-1 rows (fewer if
the block is smaller) to a per-key, block-ordered tail table.  For any
block b, the true k-1 rows preceding b's first row are a suffix of the
CONCATENATED tails of blocks < b: a row deeper than k-1 from the end
of its own block is at least k positions before any row of a later
block (outside every frame), and if the previous block is a sliver of
j < k-1 rows, the missing rows are within the last k-1 of the block
before it, which carries them too — inductively the concatenation
holds the full lookback.  The tail table is bounded by
n_blocks × (k-1) rows per key, the cum-concat arrays by the same, and
the join back rides the (key, block) partitioning the window pass
already established.

Count-gated exactly like ``sessionize``: no key over the threshold →
the compiled plan IS the plain single-window plan (and the same
plan-build-time routing CONTRACT applies — long-lived plans do not
re-gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .sessionize import HOT_KEY_THRESHOLD
from .skewguard import over_threshold_keys, ranged_blocks


def moving_rows_frame(
    df: DataFrame,
    value_col: str,
    frame_rows: int = 7,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    hot_key_threshold: int | None = HOT_KEY_THRESHOLD,
) -> DataFrame:
    """Attach ``frame_sum`` (sum of ``value_col``, NULL-skipping, NULL
    when the frame holds no non-NULL value — plain SUM semantics) and
    ``frame_n`` (frame ROW count) over ``ROWS BETWEEN frame_rows-1
    PRECEDING AND CURRENT ROW`` per key in (ts, id) order.

    ``value_col`` must be integral (the repo's quantized-int64
    aggregate discipline — exact under any execution order); callers
    quantize doubles first, as ``win_moving_avg`` does."""
    if hot_key_threshold is None:
        return _moving_plain(df, value_col, frame_rows, key_col, ts_col, id_col)
    if over_threshold_keys(df, hot_key_threshold, key_col).isEmpty():
        return _moving_plain(df, value_col, frame_rows, key_col, ts_col, id_col)
    return _moving_segmented(df, value_col, frame_rows, key_col, ts_col, id_col)


def _moving_plain(
    df: DataFrame,
    value_col: str,
    frame_rows: int,
    key_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    w = (
        W.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(-(frame_rows - 1), 0)
    )
    return df.withColumn("frame_sum", F.sum(value_col).over(w)).withColumn(
        "frame_n", F.count(F.lit(1)).over(w)
    )


def _moving_segmented(
    df: DataFrame,
    value_col: str,
    frame_rows: int,
    key_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    k1 = frame_rows - 1  # cross-block lookback bound
    order = [F.col(ts_col).asc(), F.col(id_col).asc()]

    # r13: the windowed branch and the tails branch both read ONE
    # materialized block assignment (skewguard.ranged_blocks) — the
    # same reuse-independence as sessionize/seglead.  Before r13 this
    # operator leaned on a ReusedExchange plan pin instead; the pin
    # held, but materializing unifies the family on one mechanism and
    # removes the upgrade-breaks-reuse failure mode outright.
    ranged = ranged_blocks(df, key_col, order, "_mw_blk")

    w_blk = W.partitionBy(key_col, "_mw_blk").orderBy(*order)
    w_frame = w_blk.rowsBetween(-k1, 0)
    # block-local frame pieces: the window clips at the block head, and
    # the carry supplies exactly what was clipped
    windowed = (
        ranged.withColumn("_mw_rn", F.row_number().over(w_blk))
        .withColumn("_mw_insum", F.sum(value_col).over(w_frame))
        .withColumn("_mw_incnt", F.count(F.lit(1)).over(w_frame))
    )

    # per-(key, block) tail: the block's last k-1 rows, in order
    w_rev = W.partitionBy(key_col, "_mw_blk").orderBy(
        F.col(ts_col).desc(), F.col(id_col).desc()
    )
    tails = (
        ranged.withColumn("_mw_rev", F.row_number().over(w_rev))
        .filter(F.col("_mw_rev") <= k1)
        .groupBy(key_col, "_mw_blk")
        .agg(
            # array_sort over (ts, id, v) structs compares field-wise
            # (ts first — it leads the struct for exactly that), and a
            # NULL ts FIELD sorts first, matching the window's asc
            # NULLS FIRST; note array_sort's non-sort_array treatment
            # of NULL ELEMENTS never applies (structs are non-null)
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("t"),
                        F.col(id_col).alias("i"),
                        F.col(value_col).alias("v"),
                    )
                )
            ).alias("_mw_tail")
        )
    )
    # cumulative lookback per block: concatenated tails of all EARLIER
    # blocks (bounded by n_blocks * (k-1) structs per key), trimmed to
    # the last k-1 — the only rows any frame can reach across a block
    # head
    w_c = W.partitionBy(key_col).orderBy("_mw_blk")
    prev_concat = F.flatten(
        F.collect_list("_mw_tail").over(
            w_c.rowsBetween(W.unboundedPreceding, -1)
        )
    )
    lookback = F.when(
        F.size(prev_concat) > k1, F.slice(prev_concat, -k1, k1)
    ).otherwise(prev_concat)
    carry = tails.withColumn(
        "_mw_lookback", F.coalesce(lookback, F.array())
    ).select(
        F.col(key_col).alias("_mw_c_key"),
        F.col("_mw_blk").alias("_mw_c_blk"),
        "_mw_lookback",
    )

    joined = windowed.join(
        carry,
        F.col(key_col).eqNullSafe(F.col("_mw_c_key"))
        & (F.col("_mw_blk") == F.col("_mw_c_blk")),
        "left",
    )

    # rows the frame needs from earlier blocks: frame_rows - in-block
    # rows available; take them from the lookback suffix
    need = F.greatest(F.lit(0), F.lit(frame_rows) - F.col("_mw_rn"))
    lb = F.coalesce(F.col("_mw_lookback"), F.array())
    take = F.least(need, F.size(lb))
    # a zero-length slice is a correctly-typed empty array, so take=0
    # needs no special branch (start is clamped >= 1 for that case)
    cross = F.slice(lb, F.greatest(F.lit(1), F.size(lb) - take + 1), take)
    cross_vals = F.filter(cross, lambda s: s["v"].isNotNull())
    cross_sum = F.when(
        F.size(cross_vals) > 0,
        F.aggregate(cross_vals, F.lit(0).cast("long"), lambda a, s: a + s["v"]),
    )
    frame_sum = F.when(
        F.col("_mw_insum").isNull() & cross_sum.isNull(), F.lit(None)
    ).otherwise(
        F.coalesce(F.col("_mw_insum"), F.lit(0)) + F.coalesce(cross_sum, F.lit(0))
    )
    return (
        joined.withColumn("frame_sum", frame_sum.cast("long"))
        .withColumn("frame_n", F.col("_mw_incnt") + take)
        .drop(
            "_mw_blk", "_mw_rn", "_mw_insum", "_mw_incnt",
            "_mw_c_key", "_mw_c_blk", "_mw_lookback",
        )
    )


def prefix_sum_segmented(
    df: DataFrame,
    flag_col: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    out_col: str = "running_sum",
) -> DataFrame:
    """Generic EXACT segmented per-key running sum of a NON-NULL
    integral column in (ts, id) order — the machinery under
    sessionize's session numbering, exposed for flag-decomposed
    analytics (running distinct = running sum of first-occurrence
    flags).  The cross-block carry is ONE number per (key, block)
    (the block's flag sum), so a hot key's prefix scan splits
    n_blocks ways with a bounded carry table — the same two-stage
    parallel scan as sessionize, minus the gap logic.

    This generic function takes ARBITRARY upstream plans —
    running_distinct feeds it a corpus-wide flag window — so
    recomputing the subtree in both join branches doubles real work.
    The ranged frame is localCheckpoint'ed (skewguard.ranged_blocks):
    both branches read one materialized RDD (measured at 6.3M hot
    rows: 11.8 s with the duplicated flag window -> 6.4 s
    checkpointed), which also makes the block assignment
    reuse-independent by construction.  r13 note: the checkpoint is
    eager=False — AQE still runs the range shuffle when the call plans
    the frame, but the block persist itself is deferred to the first
    action.  Fault-tolerance trade (lineage truncation) is stated in
    ``operators/materialize.py``; it matters most here, on the
    availability route for >25M-row keys where long jobs make executor
    loss likeliest — on lossy clusters set
    ``logpump.reliableCheckpoint=true``.
    Pinned ≡ plain by tests/test_running_distinct.py."""
    order = [F.col(ts_col).asc(), F.col(id_col).asc()]
    ranged = ranged_blocks(df, key_col, order, "_ps_blk")

    w_blk = W.partitionBy(key_col, "_ps_blk").orderBy(*order)
    local = ranged.withColumn(
        "_ps_cum",
        F.sum(flag_col).over(w_blk.rowsBetween(W.unboundedPreceding, 0)),
    )
    summ = local.groupBy(key_col, "_ps_blk").agg(
        F.sum(flag_col).alias("_ps_nb")
    )
    w_c = W.partitionBy(key_col).orderBy("_ps_blk")
    carry = summ.withColumn(
        "_ps_carry",
        F.coalesce(
            F.sum("_ps_nb").over(w_c.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).select(
        F.col(key_col).alias("_ps_c_key"),
        F.col("_ps_blk").alias("_ps_c_blk"),
        "_ps_carry",
    )
    joined = local.join(
        carry,
        F.col(key_col).eqNullSafe(F.col("_ps_c_key"))
        & (F.col("_ps_blk") == F.col("_ps_c_blk")),
        "left",
    )
    return joined.withColumn(
        out_col, (F.col("_ps_carry") + F.col("_ps_cum")).cast("long")
    ).drop("_ps_blk", "_ps_cum", "_ps_c_key", "_ps_c_blk", "_ps_carry")


#: running_distinct's segmented gate sits far above the family's 1M
#: default: interleaved k=64/k=128 hot twins measured the segmented
#: route 1.3-1.7x SLOWER than the plain two-window form (6.3M: ~11-13
#: vs ~8-12 s; 12.7M: ~22-38 vs ~17-22 s) — the per-(key, value) flag
#: window costs the same in both routes, and plain's one single-task
#: running-sum sort is cheaper than range+block+carry until the key is
#: far larger.  The segmented path's value here is AVAILABILITY, not
#: latency: past ~25M rows a single-task sort threatens task
#: memory/time budgets outright, while the balanced path is bounded at
#: any key size.  Engage it only there.
RUNNING_DISTINCT_HOT_THRESHOLD = 25_000_000


def running_distinct(
    df: DataFrame,
    value_col: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    out_col: str = "n_distinct",
    hot_key_threshold: int | None = RUNNING_DISTINCT_HOT_THRESHOLD,
) -> DataFrame:
    """Per-key running DISTINCT count of ``value_col`` in (ts, id)
    order — the shape SCALING.md §4.1 carried as "genuinely unbounded
    carry" through r11.  r12 re-frames it: the VALUE-SET carry was an
    artifact of the naive formulation; decomposed as first-occurrence
    flags + a running flag sum, every carry is bounded —

    - first flags: per-(key, value) min((ts, id)) is a grouped
      aggregate (map-side partials fold a hot (key, value) locally),
      joined back null-safely and compared — no per-(key, value)
      window, so even one dominant VALUE under a hot key cannot
      single-task (AQE skew-split applies to the join);
    - running sum: ``prefix_sum_segmented`` (one number per block
      carried).

    Count-gated TWO levels, decided by ONE fused detector job at
    plan-build time (frozen-route contract; r13 — was two corpus
    scans): a key over the threshold routes the running sum through
    the segmented prefix scan; the flag pass keeps the per-(key, value)
    window — a hot KEY splits across its values there, so it only
    single-tasks when one (key, value) PAIR itself exceeds 4x the
    threshold, and only then does the flag pass switch to the grouped
    min-aggregate + null-safe join back (a full corpus join — measured
    ~2 s dearer at 6.3M rows, so it must not be the default).

    UNLIKE sessionize/segwin/seglead, the segmented route here is NOT
    a measured latency win at probe scales (see
    RUNNING_DISTINCT_HOT_THRESHOLD) — it is the exact bounded-cost
    path for keys too large for any single-task sort, and the default
    threshold engages it only there.  (ts, id) must uniquely identify
    a row within its (key, value) group — the same tiebreak contract
    as every ordered operator here."""
    flag_true = F.lit(1).cast("long")
    flag_false = F.lit(0).cast("long")
    order = [F.col(ts_col).asc(), F.col(id_col).asc()]
    # ONE fused detector job serves both gates (r13, was two corpus
    # scans): per-(key, value) counts roll up to per-key totals and the
    # max pair in the same aggregation tree, so the hot route's build
    # cost is one scan.  The kv-level partial agg is marginally dearer
    # than a key-level count on a cold corpus, but the flag pass
    # shuffles the full corpus on (key, value) at execution anyway, so
    # the detector stays a minor fraction of the operator.
    if hot_key_threshold is None:
        segmented = False
        kv_hot = False
    else:
        gates = (
            df.groupBy(key_col, value_col)
            .agg(F.count(F.lit(1)).alias("_rd_c"))
            .groupBy(key_col)
            .agg(
                F.sum("_rd_c").alias("_rd_kc"),
                F.max("_rd_c").alias("_rd_mc"),
            )
            .agg(
                F.max("_rd_kc").alias("max_key_rows"),
                F.max("_rd_mc").alias("max_pair_rows"),
            )
            .first()
        )
        segmented = (
            gates is not None
            and gates.max_key_rows is not None
            and gates.max_key_rows > hot_key_threshold
        )
        kv_hot = (
            segmented
            and gates.max_pair_rows is not None
            and gates.max_pair_rows > 4 * hot_key_threshold
        )

    def _window_flags() -> DataFrame:
        w_first = W.partitionBy(key_col, value_col).orderBy(*order)
        return df.withColumn(
            "_rd_first",
            F.when(F.row_number().over(w_first) == 1, flag_true).otherwise(
                flag_false
            ),
        )

    if not segmented:
        w_run = (
            W.partitionBy(key_col)
            .orderBy(*order)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return (
            _window_flags()
            .withColumn(out_col, F.sum("_rd_first").over(w_run).cast("long"))
            .drop("_rd_first")
        )

    # level 2 (decided by the same fused detector above): is any single
    # (key, value) PAIR itself over 4x the threshold?  4x, not 1x: the
    # window route's cost is one single-task rank of the LARGEST PAIR,
    # the join route's is a full corpus shuffle join — measured at 6.3M
    # rows the join is ~2 s dearer than ranking 1.26M-row pairs, so the
    # pair must be several times the key threshold before the join wins
    if not kv_hot:
        flagged = _window_flags()
    else:
        # min((ts, id)) struct per (key, value): NULL ts FIELD sorts
        # first, matching the window's asc NULLS FIRST (segwin
        # precedent); join back null-safely (NULL value is a distinct
        # bucket, exactly like the window's NULL partition)
        mins = df.groupBy(key_col, value_col).agg(
            F.min(
                F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i"))
            ).alias("_rd_m")
        )
        flagged = df.join(
            mins.select(
                F.col(key_col).alias("_rd_k"),
                F.col(value_col).alias("_rd_v"),
                "_rd_m",
            ),
            F.col(key_col).eqNullSafe(F.col("_rd_k"))
            & F.col(value_col).eqNullSafe(F.col("_rd_v")),
            "left",
        ).withColumn(
            "_rd_first",
            F.when(
                F.col(ts_col).eqNullSafe(F.col("_rd_m.t"))
                & F.col(id_col).eqNullSafe(F.col("_rd_m.i")),
                flag_true,
            ).otherwise(flag_false),
        ).drop("_rd_k", "_rd_v", "_rd_m")
    return prefix_sum_segmented(
        flagged, "_rd_first", key_col, ts_col, id_col, out_col
    ).drop("_rd_first")
