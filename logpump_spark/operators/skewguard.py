"""Shared hot-key guards for the per-user ordered-window family.

SCALING.md §4.1: operators that sort WITHIN user partitions (funnel,
sequenceCount, ROWS-frame moving averages, sessionization) are
single-task per key — one user owning 10^7+ events becomes one
straggler however many executors exist, and AQE's skew splitting
cannot apply (a window frame may not be split mid-key).

Two guards live here; both are count-gated so a uniform corpus pays
one cheap aggregate and nothing else:

- ``first_n_per_key``: exact first-N-events-per-key prefix, in two
  stages because a lone ``row_number() <= N`` sorts the WHOLE hot
  partition before filtering anything (a k-sweep showed the
  single-window cap missing its claimed bound).  Opt-in from the
  callers because it CHANGES semantics.
- ``over_threshold_keys``: the stage-0 detector alone, for operators
  (sessionize) that re-express the hot key exactly instead of capping
  it.

The reference delegates this whole surface to ClickHouse (SURVEY.md
§2.F), whose windowFunnel/sequenceCount hold the per-key event list in
one node's memory — the same single-task-per-key contract, without the
guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .materialize import materialize as _mat

# fan-out FLOOR of the capped-prefix pre-filter (stage 1): the hot
# key's sort splits shard-count ways, and stage 2's exact rank sees at
# most shards * N rows per key.  The effective count scales with the
# session's default parallelism (a 1000-executor cluster gets 1000+
# shards, local[32] gets 32) — the value only trades stage-1
# parallelism against stage-2 payload, never correctness: the exact
# first-N output is salt-invariant for any shard count >= 1.
_CAP_SHARDS = 32

#: block count = BLOCK_OVERSUBSCRIPTION * cap_shards for the segmented
#: window family (sessionize / segwin / seglead).  Oversubscription
#: smooths balls-into-bins collisions when (key, block) hash-shuffles;
#: an interleaved k=64 sweep (SCALING.md §4.1) measured 8x
#: consistently ~25% faster (3.0-3.5 s vs 4.7-5.2 s hot wall at 256 vs
#: 128 blocks on local[32]) — smaller per-task sorts beat the extra
#: per-group overhead until ~512 blocks, after which group overhead
#: wins (512: 3.5-3.9 s, 1024: 4.7-5.0 s).  Carry/heads tables stay
#: bounded by n_blocks x depth rows per spanning key.
BLOCK_OVERSUBSCRIPTION = 8

# over-cap key sets up to this size route through driver-held literal
# isin predicates (pushable, join-free); larger sets — only reachable
# when cap << corpus/keys, i.e. a deliberately tiny cap on a wide
# corpus — fall back to the lazy flag join.  1024 longs/strings is
# trivially driver-safe and far above any organic bot population.
_LITERAL_KEY_LIMIT = 1024


def cap_shards(df: DataFrame) -> int:
    try:
        return max(_CAP_SHARDS, df.sparkSession.sparkContext.defaultParallelism)
    except Exception:  # Connect sessions expose no sparkContext
        return _CAP_SHARDS


def ranged_blocks(
    df: DataFrame,
    key_col: str,
    order: list,
    blk_col: str,
) -> DataFrame:
    """ONE block assignment for the segmented window family (sessionize
    / segwin / seglead): range-repartition on the full per-key sort key
    and stamp the partition id as the block id.  Blocks are contiguous
    segments of the (key, *order) sort (partition ids are non-decreasing
    along it) and row-balanced by the RangePartitioner's own sampling —
    an all-equal-(key, ts) burst still spreads by COUNT because the
    unique tiebreak id is part of the range key.

    The frame is materialized (``operators/materialize.py``) so every
    consumer reads one assignment: each segmented operator joins a
    per-(key, block) carry back onto the blocked rows, and two
    independently planned range exchanges need not sample the same
    bounds.  The range shuffle runs at this call, because the checkpoint
    is planned with AQE on (SCALING.md §4.1 for the cost)."""
    n_blocks = BLOCK_OVERSUBSCRIPTION * cap_shards(df)
    ranged = df.repartitionByRange(
        n_blocks, F.col(key_col).asc(), *order
    ).withColumn(blk_col, F.spark_partition_id())
    return _mat(ranged, eager=False)


def first_n_per_key(
    df: DataFrame,
    n: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Exact first ``n`` rows per key by (ts, tiebreak) — skew-proof.

    Count-gated two stages, exact first-N either way:

    0. one grouped count finds the keys whose volume EXCEEDS the cap
       (``over_threshold_keys`` — map-side partials, so a hot key
       folds locally, the same property as ``skew_key_histogram``).
       Everyone else skips ranking entirely: a key with <= N rows has
       all of them in its first N.  The detector's result routes the
       plan at BUILD time (the same cardinality-bounded routing
       pattern as the sessionize gate):
       - empty over-set (uniform corpus): the returned frame IS the
         input — the cap's only cost is the one detector aggregate;
       - over-set <= 1024 keys (every realistic bot/test-rig corpus):
         the keys become LITERAL isin predicates — no flag join, no
         second detector pass in the executed plan, and the hot/cold
         split pushes down to the scans;
       - larger over-set (adversarial cap-to-corpus ratio): fall back
         to the lazy flag join, whose build side stays a bounded
         aggregate at any corpus size.
       CONTRACT: routing is frozen when the DataFrame is BUILT.  A
       long-lived plan executed after the underlying table grows a
       new over-cap key will not re-gate (build plans per run — the
       driver contract constructs every query per invocation); and
       constructing a capped plan costs one small Spark job even if
       the plan is only ever EXPLAINed.
    1. over-cap rows only: shard by a deterministic tiebreak hash and
       take the first N WITHIN each (key, shard) — parallel, and a row
       outside its shard's first N cannot be in the key's global first
       N (its global rank >= its shard rank), so no survivor is lost;
    2. rank the survivors (<= shards * N rows per key, any input
       distribution) with the exact per-key window — single-task but
       bounded by the cap, not the corpus.

    When the cap binds, the result is MATERIALIZED once
    (localCheckpoint, the ranged_blocks precedent).  Callers like
    ``window_funnel`` reference the capped frame once per step, and
    un-materialized each reference re-ran the whole gate — detector
    broadcast, flag join, both ranking windows — so a 3-step funnel
    executed the corpus scan + 2 window sorts EIGHT times (56 parquet
    scans in the plan).
    The capped output is <= n rows per key at ANY corpus size — the
    cap that makes the operator scale-safe is exactly what makes the
    materialization scale-safe.  Measured: funnel_steps_capped
    2.4 -> ~1.0 s at sf0.1.  The identity route (no key over the cap)
    returns the input frame untouched — never a base-table persist.
    """
    # asc_nulls_last on both sort keys: defensive parity with the
    # DuckDB oracle's ROW_NUMBER ... ORDER BY ts, tiebreak default
    # (NULLS LAST) vs Spark's bare-ASC NULLS FIRST.  Today's
    # perturbation twins never NULL events.ts or event_id
    # (tools/perturb.py NULL_PLAN keeps the identity key intact), so
    # no current twin exercises the divergence — the pin guards the
    # day one does.
    order = [
        F.col(ts_col).asc_nulls_last(),
        F.col(tiebreak_col).asc_nulls_last(),
    ]
    # stage 0: over-cap keys (bots/test rigs — each holds > N rows, so
    # the set is bounded by corpus/N)
    sample = (
        over_threshold_keys(df, n, key_col)
        .limit(_LITERAL_KEY_LIMIT + 1)
        .collect()
    )
    if not sample:
        # no key over the cap -> first-N is the identity; compile the
        # caller's plan as if the cap were never requested
        return df

    shard = F.pmod(F.xxhash64(F.col(tiebreak_col)), F.lit(cap_shards(df)))
    w_shard = W.partitionBy(F.col(key_col), shard).orderBy(*order)
    w_exact = W.partitionBy(key_col).orderBy(*order)

    def _rank(hot_rows: DataFrame) -> DataFrame:
        return (
            hot_rows.withColumn("_fn_srn", F.row_number().over(w_shard))
            .filter(F.col("_fn_srn") <= n)
            .withColumn("_fn_rn", F.row_number().over(w_exact))
            .filter(F.col("_fn_rn") <= n)
            .drop("_fn_srn", "_fn_rn")
        )

    if len(sample) <= _LITERAL_KEY_LIMIT:
        # literal route: the collected keys split the corpus with a
        # pushable predicate — no join, and the executed plan never
        # re-runs the detector.  NULL over-cap keys (an oracle's
        # PARTITION BY groups NULLs into one capped partition) get an
        # explicit isNull arm because isin never matches NULL.
        keys = [r[0] for r in sample]
        non_null = [k for k in keys if k is not None]
        cond = F.col(key_col).isin(non_null) if non_null else F.lit(False)
        if len(non_null) < len(keys):
            cond = cond | F.col(key_col).isNull()
        is_hot = F.coalesce(cond, F.lit(False))
        return _mat(df.filter(~is_hot).unionByName(_rank(df.filter(is_hot))))

    # adversarial over-set (> _LITERAL_KEY_LIMIT keys): lazy flag join.
    # No broadcast HINT here: an explicit F.broadcast() is honored
    # regardless of size and AQE never demotes it, so a forced
    # broadcast of a corpus/N-sized build side could OOM the driver;
    # unhinted, AQE still broadcasts when it is actually small and
    # keeps a skew-splittable shuffle join when it is not.  eqNullSafe
    # routes a NULL over-cap key through the ranked branch too.
    over = over_threshold_keys(df, n, key_col).select(
        F.col(key_col).alias("_fn_over_key"), F.lit(True).alias("_fn_over")
    )
    flagged = df.join(
        over, F.col(key_col).eqNullSafe(F.col("_fn_over_key")), "left"
    )
    under = flagged.filter(~F.coalesce(F.col("_fn_over"), F.lit(False))).drop(
        "_fn_over_key", "_fn_over"
    )
    capped = _rank(
        flagged.filter(F.coalesce(F.col("_fn_over"), F.lit(False))).drop(
            "_fn_over_key", "_fn_over"
        )
    )
    return _mat(under.unionByName(capped))


def over_threshold_keys(
    df: DataFrame, threshold: int, key_col: str = "user_id"
) -> DataFrame:
    """Stage-0 detector alone: (key) rows for every key holding MORE
    than ``threshold`` input rows.  One grouped count with map-side
    partials; the result is bounded by corpus/threshold rows."""
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_sg_cnt"))
        .filter(F.col("_sg_cnt") > threshold)
        .select(key_col)
    )
