"""Driver-facing time-series queries: calendar gap filling (WITH FILL
analog), z-score anomaly days, and unpivot/stack."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.materialize import materialize as _mat

from ..operators.timeseries import (
    ewma_daily,
    gap_fill_daily,
    inter_arrival_gaps,
    ohlc_resample,
    zscore_anomalies,
)
from ..tables import load


def timeseries_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily event series with calendar gaps filled and the
    quantized value sum forward-filled (users < 30 keep the result and
    oracle cost bounded)."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("user_id") < 30) & F.col("value").isNotNull()
    )
    out = gap_fill_daily(ev, "user_id", "ts", "value")
    return out.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        "n_events",
        "qsum_ff",
    ).orderBy("user_id", "day")


_TS_FILL_SQL = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT) AS qsum
  FROM events WHERE user_id < 30 AND value IS NOT NULL
  GROUP BY 1, 2
),
spine AS (
  SELECT user_id, UNNEST(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY))::DATE AS day
  FROM daily GROUP BY user_id
)
SELECT s.user_id,
       CAST(s.day AS VARCHAR) AS day,
       COALESCE(d.n_events, 0) AS n_events,
       LAST_VALUE(d.qsum IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qsum_ff
FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
ORDER BY s.user_id, day
"""


def timeseries_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days where an event_type's daily volume is > 2 population sigmas
    from that type's mean — moments from exact integer power sums."""
    ev = load(spark, sf_dir, "events")
    out = zscore_anomalies(ev, "event_type", "ts", z_threshold=2.0)
    return out.select(
        "event_type", F.col("day").cast("string").alias("day"), "x", "z"
    ).orderBy("event_type", "day")


_TS_ANOMALY_SQL = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, day, x,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS s1,
         SUM(x * x) OVER w AS s2
  FROM daily WINDOW w AS (PARTITION BY event_type)
)
SELECT event_type, CAST(day AS VARCHAR) AS day, x,
       ROUND((x - s1 / n) / sqrt((n * s2 - s1 * s1) / (n * n)), 6) AS z
FROM stats
WHERE sqrt((n * s2 - s1 * s1) / (n * n)) > 0
  AND abs(ROUND((x - s1 / n) / sqrt((n * s2 - s1 * s1) / (n * n)), 6)) > 2.0
ORDER BY event_type, day
"""


def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long unpivot of per-nation aggregates via stack()."""
    cust = load(spark, sf_dir, "customer")
    wide = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.floor(F.sum(F.floor(F.col("c_acctbal") * 100).cast("long")) / 100).alias(
            "acctbal_floor"
        ),
    )
    long = wide.select(
        "c_nationkey",
        F.expr(
            "stack(2, 'n_customers', n_customers, 'acctbal_floor', acctbal_floor)"
        ).alias("metric", "value"),
    )
    return long


_UNPIVOT_SQL = """
WITH wide AS (
  SELECT c_nationkey,
         COUNT(*) AS n_customers,
         CAST(FLOOR(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) / 100) AS BIGINT)
           AS acctbal_floor
  FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, metric, value FROM (
  SELECT c_nationkey, 'n_customers' AS metric, n_customers AS value FROM wide
  UNION ALL
  SELECT c_nationkey, 'acctbal_floor' AS metric, acctbal_floor AS value FROM wide
)
ORDER BY c_nationkey, metric
"""


def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha=1/2, 8-lag truncation) of the daily quantized
    value sum — integer weights make the smoothing engine-exact (users
    < 30 keep the result and oracle cost bounded)."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("user_id") < 30) & F.col("value").isNotNull()
    )
    out = ewma_daily(ev, "user_id", "ts", "value")
    return out.select(
        "user_id", F.col("day").cast("string").alias("day"), "qsum", "ewma_q"
    ).orderBy("user_id", "day")


# weights 2^(7-k) for lag k: exact integers, so num/den replay exactly
_TS_EWMA_SQL = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT) AS qsum
  FROM events WHERE user_id < 30 AND value IS NOT NULL
  GROUP BY 1, 2
),
lagged AS (
  SELECT user_id, day, qsum,
         {lags}
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
)
SELECT user_id, CAST(day AS VARCHAR) AS day, qsum,
       CAST(FLOOR(({num}) / CAST(({den}) AS DOUBLE)) AS BIGINT) AS ewma_q
FROM lagged
ORDER BY user_id, day
""".format(
    lags=",\n         ".join(
        f"LAG(qsum, {k}) OVER w AS l{k}" for k in range(1, 8)
    ),
    num=" + ".join(
        ["qsum * 128"]
        + [f"COALESCE(l{k} * {1 << (7 - k)}, 0)" for k in range(1, 8)]
    ),
    den=" + ".join(
        ["128"]
        + [
            f"CASE WHEN l{k} IS NOT NULL THEN {1 << (7 - k)} ELSE 0 END"
            for k in range(1, 8)
        ]
    ),
)


SPARK_QUERIES = {
    "timeseries_fill": timeseries_fill,
    "timeseries_anomaly": timeseries_anomaly,
    "unpivot_stack": unpivot_stack,
    "timeseries_ewma": timeseries_ewma,
}

ORACLE_SQL = {
    "timeseries_fill": _TS_FILL_SQL,
    "timeseries_anomaly": _TS_ANOMALY_SQL,
    "unpivot_stack": _UNPIVOT_SQL,
    "timeseries_ewma": _TS_EWMA_SQL,
}


def timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event_type (operators/timeseries.py
    ohlc_resample): open/close picked by (ts, event_id) row order,
    high/low/volume over quantized values — all exact integers."""
    ev = load(spark, sf_dir, "events")
    out = ohlc_resample(ev, "event_type", "ts", "value", "event_id", "hour")
    return out.select(
        "event_type",
        F.col("bucket").cast("string").alias("bucket"),
        "open_q", "close_q", "high_q", "low_q", "n", "volume_q",
    ).orderBy("event_type", "bucket")


_TS_OHLC_SQL = """
WITH base AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(FLOOR(value * 10000) AS BIGINT) AS qv, ts, event_id
  FROM events
),
marked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                       ORDER BY ts ASC, event_id ASC) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                       ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM base
)
SELECT event_type,
       CAST(bucket AS VARCHAR) AS bucket,
       MAX(CASE WHEN rn_a = 1 THEN qv END) AS open_q,
       MAX(CASE WHEN rn_d = 1 THEN qv END) AS close_q,
       MAX(qv) AS high_q,
       MIN(qv) AS low_q,
       COUNT(*) AS n,
       CAST(SUM(qv) AS BIGINT) AS volume_q
FROM marked
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""

SPARK_QUERIES["timeseries_ohlc"] = timeseries_ohlc
ORACLE_SQL["timeseries_ohlc"] = _TS_OHLC_SQL


def timeseries_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event_type: exact p50/p95/max
    of the µs gap between consecutive events (LAG over event time, id
    tiebreak) — the burstiness/SLA report over the techlog stream.
    Exact percentiles on int64 gaps: both engines interpolate
    identically on integers, with the result floored back to int64."""
    # The gap stream comes from the count-gated operator — the uniform
    # bench/oracle fixtures compile the identical plain per-type LAG
    # plan (max type ~20k rows at sf0.1, gate 1M), while a corpus whose
    # per-type volume makes the single-task sort the stage wall routes
    # through segmented range blocks (exact multiset;
    # operators/timeseries.py docstring).  The gate detector runs at plan
    # build (frozen-route contract), so the bench charges it as
    # construction time.
    ev = load(spark, sf_dir, "events")
    gaps = inter_arrival_gaps(ev, "event_type", "ts", "event_id")
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.floor(F.expr("percentile(gap_us, 0.5)")).cast("long").alias("p50_us"),
            F.floor(F.expr("percentile(gap_us, 0.95)")).cast("long").alias("p95_us"),
            F.max("gap_us").alias("max_us"),
        )
        .orderBy("event_type")
    )


_TS_GAPS_SQL = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY epoch_us(ts) ASC, event_id ASC
         ) AS gap_us
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_gaps,
       CAST(FLOOR(quantile_cont(gap_us, 0.5)) AS BIGINT) AS p50_us,
       CAST(FLOOR(quantile_cont(gap_us, 0.95)) AS BIGINT) AS p95_us,
       MAX(gap_us) AS max_us
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""

SPARK_QUERIES["timeseries_gaps"] = timeseries_gaps
ORACLE_SQL["timeseries_gaps"] = _TS_GAPS_SQL


def timeseries_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (MAD-based) outlier counting per event type — the
    median-of-absolute-deviations twin of `timeseries_anomaly`'s
    z-score (robust to the heavy tails that wreck mean/std gates).
    Both medians are LOWER medians picked by rank over (value, id) —
    pure integer comparisons, no interpolation — and the outlier gate
    |x - med| > 3 * MAD is exact int64 arithmetic.

    Scale shape (r15, guide §2.3 — aggregate before you shuffle): ONE
    corpus pass folds events to the (event_type, qv) multiplicity table
    with map-side partial aggregation; every rank statistic runs on
    that bounded table.  The old per-row rank's event_id tiebreak only
    orders rows WITHIN one qv (or ad) value, so it never changes which
    value sits at the median rank: the lower median is the smallest
    value whose cumulative multiplicity reaches ceil(n/2).  The before
    shape scanned the corpus 4x
    and ran 4 corpus-sized window sorts; now 1 scan, 1 corpus shuffle
    of pre-reduced counts, windows over distinct values only."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    qv = F.floor(F.col("value") * 10000).cast("long")
    cnt = (
        ev.groupBy("event_type", qv.alias("qv"))
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(_mat)
    )
    w_n = W.partitionBy("event_type")
    # rk*2 == n + n%2  <=>  rk == ceil(n/2): the lower-median rank
    tgt = F.expr("(n + n % 2) div 2")
    w_qv = w_n.orderBy("qv")
    med = (
        cnt.withColumn("n", F.sum("c").over(w_n))
        .withColumn("cum", F.sum("c").over(w_qv))
        .filter((F.col("cum") >= tgt) & (F.col("cum") - F.col("c") < tgt))
        .select("event_type", F.col("qv").alias("med"), "n")
    )
    dev = cnt.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("qv") - F.col("med")).alias("ad"),
        "c",
        "med",
        "n",
    )
    adg = (
        dev.groupBy("event_type", "ad")
        .agg(F.sum("c").alias("c"), F.max("med").alias("med"), F.max("n").alias("n"))
        .transform(_mat)
    )
    w_ad = w_n.orderBy("ad")
    mad = (
        adg.withColumn("cum", F.sum("c").over(w_ad))
        .filter((F.col("cum") >= tgt) & (F.col("cum") - F.col("c") < tgt))
        .select("event_type", F.col("ad").alias("mad"))
    )
    return (
        adg.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            (F.max("med").cast("double") / 10000).alias("median_value"),
            (F.max("mad").cast("double") / 10000).alias("mad_value"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad"), F.col("c")).otherwise(F.lit(0))
            ).alias("n_outliers"),
            F.sum("c").alias("n_events"),
        )
        .orderBy("event_type")
    )


_TS_MAD_SQL = """
WITH base AS (
  SELECT event_type, CAST(FLOOR(value * 10000) AS BIGINT) AS qv, event_id
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT event_type, qv AS med FROM (
    SELECT event_type, qv,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY qv, event_id) AS rk,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM base
  ) WHERE rk * 2 = n + (n % 2)
),
dev AS (
  SELECT b.event_type, b.qv, b.event_id, ABS(b.qv - m.med) AS ad, m.med
  FROM base b JOIN med m ON m.event_type = b.event_type
),
mad AS (
  SELECT event_type, ad AS mad FROM (
    SELECT event_type, ad,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad, event_id) AS rk,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev
  ) WHERE rk * 2 = n + (n % 2)
)
SELECT d.event_type,
       CAST(MAX(d.med) AS DOUBLE) / 10000 AS median_value,
       CAST(MAX(x.mad) AS DOUBLE) / 10000 AS mad_value,
       CAST(SUM(CASE WHEN d.ad > 3 * x.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       COUNT(*) AS n_events
FROM dev d JOIN mad x ON x.event_type = d.event_type
GROUP BY d.event_type
ORDER BY d.event_type
"""

SPARK_QUERIES["timeseries_mad"] = timeseries_mad
ORACLE_SQL["timeseries_mad"] = _TS_MAD_SQL


def timeseries_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CALENDAR-consecutive active
    days per user (the classic date - row_number() grouping trick — the
    group key is constant exactly while days are consecutive).  Differs
    from sessionize_events (time-gap sessions): islands are calendar
    runs over the distinct-day series.  Per-user top run lengths feed
    streak/retention reports.  One user shuffle carries the distinct,
    the window, and the island aggregation."""
    ev = load(spark, sf_dir, "events")
    # floor(), not cast-truncation: double-divide + cast('long') truncates
    # toward zero, diverging from the oracle's integer floor division for
    # pre-1970 timestamps.
    epoch_day = F.floor(
        F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86_400_000_000)
    ).cast("long")
    days = ev.select("user_id", epoch_day.alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    islands = (
        days.withColumn("grp", F.col("d") - F.row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(
            F.min("d").alias("start_day"),
            F.max("d").alias("end_day"),
            F.count(F.lit(1)).alias("len_days"),
        )
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.max("len_days").alias("longest_streak"),
            F.min("start_day").alias("first_day"),
            F.max("end_day").alias("last_day"),
        )
    )


_TS_ISLANDS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id,
         epoch_us(date_trunc('day', ts)) // 86400000000 AS d
  FROM events
),
islands AS (
  SELECT user_id, d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp,
         d
  FROM days
),
agg AS (
  SELECT user_id, grp, MIN(d) AS start_day, MAX(d) AS end_day, COUNT(*) AS len_days
  FROM islands GROUP BY 1, 2
)
SELECT user_id,
       COUNT(*) AS n_islands,
       MAX(len_days) AS longest_streak,
       MIN(start_day) AS first_day,
       MAX(end_day) AS last_day
FROM agg
GROUP BY user_id
ORDER BY user_id
"""

SPARK_QUERIES["timeseries_islands"] = timeseries_islands
ORACLE_SQL["timeseries_islands"] = _TS_ISLANDS_SQL


def timeseries_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-reset-aware rate (the PromQL increase() / ClickHouse
    runningDifference idiom): per-user daily increase of a monotone
    counter that wraps — on a reset (current < previous) the increase
    restarts from the current reading instead of going negative.  The
    counter is synthesized deterministically (running quantized-|value|
    sum mod 5e6) so the oracle replays it; reset handling is the part
    under test.  One lag() over one user-key sort, then a daily
    aggregate — per-row state is a single previous reading."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("user_id") < 30) & F.col("value").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    qv = F.abs(F.floor(F.col("value") * 10000)).cast("long")
    counter = F.sum(qv).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ) % 5_000_000
    d = ev.select(
        "user_id", "ts", "event_id", counter.alias("c")
    ).withColumn("prev", F.lag("c").over(w))
    inc = (
        F.when(F.col("prev").isNull(), F.lit(0))
        .when(F.col("c") >= F.col("prev"), F.col("c") - F.col("prev"))
        .otherwise(F.col("c"))
    )
    reset = F.when(
        F.col("prev").isNotNull() & (F.col("c") < F.col("prev")), 1
    ).otherwise(0)
    return (
        d.withColumn("inc", inc)
        .withColumn("reset", reset)
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            (F.sum("inc").cast("double") / 10000).alias("increase"),
            F.sum("reset").alias("n_resets"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select(
            "user_id", F.col("day").cast("string").alias("day"),
            "increase", "n_resets", "n_samples",
        )
        .orderBy("user_id", "day")
    )


_TS_RATE_SQL = """
WITH c AS (
  SELECT user_id, ts, event_id,
         SUM(CAST(ABS(FLOOR(value * 10000)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           % 5000000 AS c
  FROM events WHERE user_id < 30 AND value IS NOT NULL
),
d AS (
  SELECT user_id, ts, c,
         LAG(c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM c
)
SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(SUM(CASE WHEN prev IS NULL THEN 0
                     WHEN c >= prev THEN c - prev
                     ELSE c END) AS DOUBLE) / 10000 AS increase,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND c < prev THEN 1 ELSE 0 END)
            AS BIGINT) AS n_resets,
       COUNT(*) AS n_samples
FROM d
GROUP BY user_id, CAST(ts AS DATE)
ORDER BY user_id, day
"""

SPARK_QUERIES["timeseries_rate"] = timeseries_rate
ORACLE_SQL["timeseries_rate"] = _TS_RATE_SQL


def timeseries_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user-day (the avgWeighted-over-
    durations idiom for irregularly sampled series): each reading is
    weighted by how long it was current (microseconds until the next
    sample that day); days with one sample have no held interval and
    drop.  Exact integer numerator/denominator (quantized value x µs),
    identical final IEEE divisions in both engines.  One lead() over a
    (user, day) sort — same single-shuffle class as the window family."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("user_id") < 30) & F.col("value").isNotNull()
    )
    day = F.to_date("ts")
    w = W.partitionBy("user_id", day).orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    qv = F.floor(F.col("value") * 100).cast("long")
    d = ev.select(
        "user_id", day.alias("day"), "ts", "event_id", qv.alias("qv"), us.alias("us")
    ).withColumn("nxt", F.lead("us").over(w))
    dur = F.col("nxt") - F.col("us")
    return (
        d.withColumn("dur", dur)
        .withColumn("seg", dur * F.col("qv"))
        .groupBy("user_id", "day")
        .agg(
            F.sum("seg").alias("_num"),
            F.sum("dur").alias("_dur"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .filter(F.col("_dur") > 0)
        .select(
            "user_id",
            F.col("day").cast("string").alias("day"),
            (
                F.col("_num").cast("double") / F.col("_dur").cast("double") / 100
            ).alias("twa"),
            "n_samples",
        )
        .orderBy("user_id", "day")
    )


_TS_TWA_SQL = """
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(FLOOR(value * 100) AS BIGINT) AS qv,
         epoch_us(ts) AS us,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS nxt
  FROM events WHERE user_id < 30 AND value IS NOT NULL
)
SELECT user_id, CAST(day AS VARCHAR) AS day,
       CAST(SUM((nxt - us) * qv) AS DOUBLE)
         / CAST(SUM(nxt - us) AS DOUBLE) / 100 AS twa,
       COUNT(*) AS n_samples
FROM d
GROUP BY user_id, day
HAVING SUM(nxt - us) > 0
ORDER BY user_id, day
"""

SPARK_QUERIES["timeseries_twa"] = timeseries_twa
ORACLE_SQL["timeseries_twa"] = _TS_TWA_SQL


# ---------------------------------------------------------------------------
# LTTB downsampling (ClickHouse ``largestTriangleThreeBuckets``): keep
# the visually-dominant point per bucket of a long series.  This is the
# PARALLEL variant — both triangle anchors are the neighbor buckets'
# MEANS, not the previously-selected point, so every bucket decides
# independently (canonical LTTB is a sequential scan; the fixed-anchor
# form is the standard distributed adaptation and what makes the op one
# shuffle instead of a driver loop).  Differences are documented, not
# hidden: first/last points are pinned exactly as in canonical LTTB;
# interior buckets may pick a different point than the sequential
# algorithm; buckets whose index-neighbors are absent (series shorter
# than ~2 buckets) contribute only their pinned endpoints.
#
# Exactness across engines: x is the ROW INDEX (int), y the 1e-4
# quantized daily sum (int64); bucket means are one identical IEEE
# division of identical integer sums, the triangle area is the same
# double expression tree in Spark and DuckDB, so the per-bucket argmax
# (area DESC, rn ASC) agrees bit-for-bit — a full value oracle, no
# epsilon.

_LTTB_NB = 12


def timeseries_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample each user's daily quantized-sum series to ~12 points
    with fixed-anchor LTTB (users < 8 bound the oracle).  Returns the
    selected (user_id, day, qsum, bucket) rows."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("user_id") < 8) & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 10000).cast("long")).alias("qsum"))

    wu = W.partitionBy("user_id").orderBy("day")
    d = (
        daily.withColumn("rn", F.row_number().over(wu) - 1)
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("user_id")))
        .withColumn("bucket", F.expr(f"CAST((rn * {_LTTB_NB}) DIV n AS BIGINT)"))
    )
    bm = d.groupBy("user_id", "bucket").agg(
        F.avg("rn").alias("mx"), F.avg("qsum").alias("my")
    )
    prev = bm.select(
        F.col("user_id").alias("pu"),
        (F.col("bucket") + 1).alias("pb"),
        F.col("mx").alias("pmx"),
        F.col("my").alias("pmy"),
    )
    nxt = bm.select(
        F.col("user_id").alias("nu"),
        (F.col("bucket") - 1).alias("nb"),
        F.col("mx").alias("nmx"),
        F.col("my").alias("nmy"),
    )
    mid = d.join(
        F.broadcast(prev), (d.user_id == prev.pu) & (d.bucket == prev.pb)
    ).join(F.broadcast(nxt), (d.user_id == nxt.nu) & (d.bucket == nxt.nb))
    area = F.abs(
        (F.col("pmx") - F.col("nmx"))
        * (F.col("qsum").cast("double") - F.col("pmy"))
        - (F.col("pmx") - F.col("rn").cast("double"))
        * (F.col("nmy") - F.col("pmy"))
    )
    wsel = W.partitionBy("user_id", "bucket").orderBy(
        F.col("area").desc(), F.col("rn").asc()
    )
    picked = (
        mid.withColumn("area", area)
        .withColumn("srn", F.row_number().over(wsel))
        .filter(F.col("srn") == 1)
        .select("user_id", "day", "qsum", "bucket")
    )
    # canonical LTTB pins the global first and last points
    ends = d.filter((F.col("rn") == 0) | (F.col("rn") == F.col("n") - 1)).select(
        "user_id", "day", "qsum", "bucket"
    )
    return (
        picked.unionByName(ends)
        .select(
            "user_id", F.col("day").cast("string").alias("day"), "qsum", "bucket"
        )
        .orderBy("user_id", "day")
    )


_TS_LTTB_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT) AS qsum
  FROM events WHERE user_id < 8 AND value IS NOT NULL GROUP BY 1, 2
),
idx AS (
  SELECT user_id, day, qsum,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) - 1 AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM daily
),
bk AS (SELECT *, (rn * {_LTTB_NB}) // n AS bucket FROM idx),
bm AS (SELECT user_id, bucket, AVG(rn) AS mx, AVG(qsum) AS my
       FROM bk GROUP BY 1, 2),
scored AS (
  SELECT b.*,
         ABS((p.mx - q.mx) * (CAST(b.qsum AS DOUBLE) - p.my)
             - (p.mx - CAST(b.rn AS DOUBLE)) * (q.my - p.my)) AS area
  FROM bk b
  JOIN bm p ON p.user_id = b.user_id AND p.bucket = b.bucket - 1
  JOIN bm q ON q.user_id = b.user_id AND q.bucket = b.bucket + 1
),
picked AS (
  SELECT user_id, day, qsum, bucket,
         ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                            ORDER BY area DESC, rn ASC) AS srn
  FROM scored
)
SELECT user_id, CAST(day AS VARCHAR) AS day, qsum, CAST(bucket AS BIGINT) AS bucket
FROM picked WHERE srn = 1
UNION ALL
SELECT user_id, CAST(day AS VARCHAR), qsum, CAST(bucket AS BIGINT)
FROM bk WHERE rn = 0 OR rn = n - 1
ORDER BY user_id, day
"""

SPARK_QUERIES["timeseries_lttb"] = timeseries_lttb
ORACLE_SQL["timeseries_lttb"] = _TS_LTTB_SQL


# ---------------------------------------------------------------------------
# Time-decayed aggregates (ClickHouse ``exponentialTimeDecayedSum`` /
# ``exponentialTimeDecayedAvg`` at the series end) + ``boundingRatio``.
# The monitoring triple for "what is the signal doing NOW": recent
# events dominate via w_i = exp(-(T - t_i)/tau), and the bounding ratio
# is the end-to-end slope (dy/dx over the full window).
#
# Exactness: (T - t_i) is exact int64 µs and tau a literal, so exp()
# receives identical doubles in both engines; libm exp differs by at
# most 1 ulp across implementations and the ~2k-term sums keep the
# wobble ~1e-10 — far inside the 6dp round (the same contract as the
# ln() entropy ops).  First/last values for the slope come from
# row_number over a (ts, event_id) sort, never argmin/argmax on floats.
#
# Scale notes (100 TB): one grouped pass for the decayed sums (map-side
# partials; T is a 1-row broadcast), one per-type window for the
# endpoints — |event_type| groups, per-key sort bounded by the type's
# rows (SCALING.md §4.1 envelope).

_DECAY_TAU_US = 86400 * 1_000_000  # 1-day time constant


def timeseries_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: exponential time-decayed sum/avg of `value`
    evaluated at the corpus end, plus the end-to-end slope per hour
    (boundingRatio).  Core in operators/timeseries.time_decayed_by_type
    (shared with the streaming twin).  Returns (event_type, n_events,
    decayed_sum, decayed_avg, slope_per_hour)."""
    from ..operators.timeseries import time_decayed_by_type

    ev = load(spark, sf_dir, "events")
    return time_decayed_by_type(ev, tau_us=_DECAY_TAU_US).orderBy("event_type")


_TS_DECAY_SQL = f"""
WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL),
t AS (SELECT MAX(epoch_us(ts)) AS t_end FROM ev),
sums AS (
  SELECT event_type, COUNT(*) AS n_events,
         SUM(value * exp(-CAST(t.t_end - epoch_us(ts) AS DOUBLE)
                         / {float(_DECAY_TAU_US)!r})) AS dsum,
         SUM(exp(-CAST(t.t_end - epoch_us(ts) AS DOUBLE)
                 / {float(_DECAY_TAU_US)!r})) AS dw
  FROM ev CROSS JOIN t GROUP BY event_type
),
ranked AS (
  SELECT event_type, value, epoch_us(ts) AS us,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM ev
),
ends AS (
  SELECT event_type,
         MAX(CASE WHEN rn_a = 1 THEN value END) AS first_v,
         MAX(CASE WHEN rn_d = 1 THEN value END) AS last_v,
         MAX(CASE WHEN rn_a = 1 THEN us END) AS first_us,
         MAX(CASE WHEN rn_d = 1 THEN us END) AS last_us
  FROM ranked WHERE rn_a = 1 OR rn_d = 1 GROUP BY event_type
)
SELECT s.event_type, s.n_events,
       ROUND(s.dsum, 6) AS decayed_sum,
       ROUND(s.dsum / s.dw, 6) AS decayed_avg,
       ROUND((e.last_v - e.first_v)
             / (CAST(e.last_us - e.first_us AS DOUBLE) / 3600000000.0),
             6) AS slope_per_hour
FROM sums s JOIN ends e USING (event_type)
ORDER BY s.event_type
"""

SPARK_QUERIES["timeseries_decay"] = timeseries_decay
ORACLE_SQL["timeseries_decay"] = _TS_DECAY_SQL


# ---------------------------------------------------------------------------
# Canonical SEQUENTIAL LTTB (r8): the exact largestTriangleThreeBuckets
# algorithm — each bucket's pick anchors on the PREVIOUSLY SELECTED
# point, so the scan is inherently sequential per series.  This is the
# published algorithm (Steinarsson 2013) next to the fixed-anchor
# parallel adaptation above (`timeseries_lttb`), retiring that id's
# documented divergence: users who need bit-canonical LTTB output run
# this one; users who need one shuffle at corpus scale run the parallel
# twin.
#
# Shape: the per-series state is bounded (one anchor point + one
# bucket's candidates), and a series' daily aggregate is at most a few
# thousand rows — exactly the applyInPandas sweet spot: one shuffle on
# the series key, Arrow-batched, per-key sequential work that Spark's
# declarative operators genuinely cannot express without per-bucket
# self-joins chained NB deep.  The groupBy key inherits the §4.1
# envelope (a series is one task), which the daily pre-aggregation
# bounds to ~365 rows/series/year BEFORE the shuffle.
#
# Exactness across engines: x = row index (int), y = the 1e-4 quantized
# daily sum (int64) — bucket means are exact-integer sums divided once,
# the triangle area is the same double expression tree, and ties break
# on the lower row index; the DuckDB oracle unrolls the NB-2 sequential
# steps as chained CTEs (one per bucket), replaying the identical
# arithmetic, so the comparison is a full value hash with no epsilon.

_LTTB_EXACT_NB = 12  # target points per series, endpoints included


def lttb_select_indices(y: list[float], nb: int) -> list[int]:
    """Canonical sequential LTTB over one series: x = index, ``y`` =
    values (exact-integer doubles in the query's use).  Returns the
    selected row indices (all of them when len <= nb).  Module-level so
    the property suite can drive it against an independent reference
    model without a Spark round-trip; the applyInPandas closure below
    and the DuckDB CTE chain both replay exactly this arithmetic."""
    n = len(y)
    if n <= nb:
        return list(range(n))
    # interior point j (1..n-2) -> bucket ((j-1)*(nb-2)) DIV (n-2);
    # with n-2 >= nb-2+1 every bucket is non-empty
    k = nb - 2
    members: list[list[int]] = [[] for _ in range(k)]
    for j in range(1, n - 1):
        members[((j - 1) * k) // (n - 2)].append(j)
    sel = [0]
    ax, ay = 0.0, y[0]
    for b in range(k):
        if b + 1 < k:
            nxt = members[b + 1]
            # means of exact-integer doubles: any sum order is exact
            mx = sum(float(j) for j in nxt) / len(nxt)
            my = sum(y[j] for j in nxt) / len(nxt)
        else:
            mx, my = float(n - 1), y[n - 1]
        best_j, best_a = members[b][0], -1.0
        for j in members[b]:
            area = abs((ax - mx) * (y[j] - ay) - (ax - float(j)) * (my - ay))
            if area > best_a:  # strict: ties keep the lower rn
                best_a, best_j = area, j
        sel.append(best_j)
        ax, ay = float(best_j), y[best_j]
    sel.append(n - 1)
    return sel


def timeseries_lttb_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample each user's daily quantized-sum series to exactly
    ``_LTTB_EXACT_NB`` points (series with <= NB days pass through) with
    canonical sequential LTTB.  Returns (user_id, day, qsum, rn)."""
    nb = _LTTB_EXACT_NB
    ev = load(spark, sf_dir, "events").filter(
        (F.col("user_id") < 8) & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 10000).cast("long")).alias("qsum"))

    def _lttb(pdf):
        pdf = pdf.sort_values("day").reset_index(drop=True)
        day = pdf["day"].astype("string")
        sel = lttb_select_indices(
            [float(v) for v in pdf["qsum"]], nb  # exact: int64 < 2^53
        )
        out = pdf.iloc[sel].copy()
        out["day"] = day.iloc[sel]
        out["rn"] = sel
        return out[["user_id", "day", "qsum", "rn"]]

    return (
        daily.groupBy("user_id")
        .applyInPandas(_lttb, "user_id long, day string, qsum long, rn long")
        .orderBy("user_id", "rn")
    )


def _lttb_exact_sql(nb: int) -> str:
    """Unroll the nb-2 sequential bucket picks as chained CTEs — plain
    (non-recursive) SQL DuckDB executes deterministically; each step is
    one QUALIFY row_number over that bucket's candidates anchored at the
    previous step's pick."""
    k = nb - 2
    area = (
        "ABS((CAST(p.rn AS DOUBLE) - a.nx) * (CAST(c.qsum AS DOUBLE) - CAST(p.qsum AS DOUBLE))"
        " - (CAST(p.rn AS DOUBLE) - CAST(c.rn AS DOUBLE)) * (a.ny - CAST(p.qsum AS DOUBLE)))"
    )
    steps = []
    for b in range(k):
        prev = f"s{b}"
        steps.append(f"""s{b + 1} AS (
  SELECT c.user_id, c.rn, c.day, c.qsum FROM interior c
  JOIN {prev} p ON p.user_id = c.user_id
  JOIN anchor_next a ON a.user_id = c.user_id AND a.bucket = {b}
  WHERE c.bucket = {b}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY c.user_id
                             ORDER BY {area} DESC, c.rn ASC) = 1
)""")
    unions = "\nUNION ALL ".join(
        f"SELECT user_id, CAST(day AS VARCHAR) AS day, qsum, rn FROM s{b}"
        for b in range(k + 1)
    )
    return f"""
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT) AS qsum
  FROM events WHERE user_id < 8 AND value IS NOT NULL GROUP BY 1, 2
),
idx AS (
  SELECT user_id, day, qsum,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) - 1 AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM daily
),
big AS (SELECT * FROM idx WHERE n > {nb}),
interior AS (
  SELECT user_id, rn, day, qsum, ((rn - 1) * {k}) // (n - 2) AS bucket
  FROM big WHERE rn >= 1 AND rn <= n - 2
),
bmean AS (
  SELECT user_id, bucket, AVG(CAST(rn AS DOUBLE)) AS mx,
         AVG(CAST(qsum AS DOUBLE)) AS my
  FROM interior GROUP BY 1, 2
),
lastpt AS (SELECT user_id, rn, day, qsum FROM big WHERE rn = n - 1),
anchor_next AS (
  SELECT b.user_id, b.bucket,
         CASE WHEN b.bucket < {k - 1} THEN m.mx
              ELSE CAST(l.rn AS DOUBLE) END AS nx,
         CASE WHEN b.bucket < {k - 1} THEN m.my
              ELSE CAST(l.qsum AS DOUBLE) END AS ny
  FROM (SELECT DISTINCT user_id, bucket FROM interior) b
  LEFT JOIN bmean m ON m.user_id = b.user_id AND m.bucket = b.bucket + 1
  JOIN lastpt l ON l.user_id = b.user_id
),
s0 AS (SELECT user_id, rn, day, qsum FROM big WHERE rn = 0),
{",".join(steps)}
SELECT user_id, CAST(day AS VARCHAR) AS day, qsum, rn FROM idx WHERE n <= {nb}
UNION ALL {unions}
UNION ALL SELECT user_id, CAST(day AS VARCHAR) AS day, qsum, rn FROM lastpt
ORDER BY user_id, rn
"""


SPARK_QUERIES["timeseries_lttb_exact"] = timeseries_lttb_exact
ORACLE_SQL["timeseries_lttb_exact"] = _lttb_exact_sql(_LTTB_EXACT_NB)
