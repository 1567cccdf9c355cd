"""Round-5 mining operators: degree-oriented triangle counting, PMI
collocation extraction, and a KMV (k-minimum-values / theta) distinct
sketch with SET operations.

These extend the graph plane (connected components `llmdata/graph.py`,
PageRank) and the sketch plane (count-min `operators/sketch.py`, HLL
`coverage3_q.py`) with the remaining classic large-scale primitives:
triangles are THE graph-clustering health metric, PMI lift is the
standard collocation/phrase-mining pass over a training corpus, and KMV
is the sketch family whose estimates compose under union/intersection —
what HLL alone cannot do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.materialize import materialize as _mat
from pyspark.sql import Window as W

from ..llmdata.dedup import md5_hash60, ordered_pair_structs
from ..tables import load

# --------------------------------------------------------------------
# graph_triangles — degree-oriented triangle counting
# --------------------------------------------------------------------

_TRI_LO, _TRI_HI = "1996-01-01", "1996-04-01"


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the supplier co-supply graph (suppliers are
    adjacent when they supplied the same part in 1996Q1) via the
    degree-oriented node-iterator (Suri & Vassilvitskii, WWW'11):
    orient every edge toward its (degree, id)-larger endpoint, enumerate
    wedges among out-neighbors, close them against the oriented edge
    set.  Orientation bounds every out-degree by O(sqrt(m)), so a hub
    node cannot explode the wedge count — the reason this shape (and
    not a naive triple self-join) survives 100 TB graphs.  Edge
    generation reuses the capped bucket-collect pair idiom (suppliers
    per part is naturally small).  The oracle triple-joins the same
    undirected edges — orientation changes the plan, never the count."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_TRI_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_TRI_HI).cast("timestamp"))
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    grouped = (
        ps.groupBy("l_partkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pair_structs = ordered_pair_structs(
        F.col("ss"), lambda a, b: F.struct(a.alias("sa"), b.alias("sb"))
    )
    edges = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.sa", "p.sb")
        .distinct()
    )
    return triangle_stats(edges)


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Degree-oriented triangle/edge/node stats over a DISTINCT
    undirected edge set (columns sa < sb).  Reusable core of
    `graph_triangles`; property tests drive it with random graphs.

    r15: the edge set and the oriented edge set are materialized once
    (localCheckpoint, the connected_components entry precedent) — the
    plan references edges 4x (degree build x2, orientation join, edge
    count) and oriented 3x (both wedge sides + the closing probe), and
    graph_triangles feeds a collect_set+explode pair generation that
    was re-executed per reference.  Interleaved A/B at sf0.1:
    1.59 -> 1.18 s (0.74x), counts exact."""
    edges = edges.transform(_mat)
    deg = (
        edges.select(F.col("sa").alias("v"))
        .unionAll(edges.select(F.col("sb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        edges.join(deg.select(F.col("v").alias("sa"), F.col("deg").alias("da")), "sa")
        .join(deg.select(F.col("v").alias("sb"), F.col("deg").alias("db")), "sb")
    )
    ka = F.struct(F.col("da").alias("d"), F.col("sa").alias("i"))
    kb = F.struct(F.col("db").alias("d"), F.col("sb").alias("i"))
    oriented = e.select(
        F.when(ka < kb, F.col("sa")).otherwise(F.col("sb")).alias("src"),
        F.when(ka < kb, F.col("sb")).otherwise(F.col("sa")).alias("dst"),
        F.when(ka < kb, kb).otherwise(ka).alias("dst_key"),
    ).transform(_mat)
    a, b = oriented.alias("a"), oriented.alias("b")
    wedges = a.join(
        b,
        (F.col("a.src") == F.col("b.src"))
        & (F.col("a.dst_key") < F.col("b.dst_key")),
    ).select(F.col("a.dst").alias("w1"), F.col("b.dst").alias("w2"))
    closing = oriented.select(
        F.col("src").alias("w1"), F.col("dst").alias("w2")
    )
    # one lazy plan, no driver actions: three 1-row aggregates cross-joined
    nodes_df = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    edges_df = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    tri_df = (
        wedges.join(closing, ["w1", "w2"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return nodes_df.crossJoin(edges_df).crossJoin(tri_df)


_TRI_SQL = f"""
WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_TRI_LO}' AND l_shipdate < TIMESTAMP '{_TRI_HI}'
),
e AS (
  SELECT DISTINCT a.s AS sa, b.s AS sb
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
),
nodes AS (SELECT sa AS v FROM e UNION SELECT sb FROM e),
tri AS (
  SELECT COUNT(*) AS t
  FROM e e1
  JOIN e e2 ON e2.sa = e1.sa AND e2.sb > e1.sb
  JOIN e e3 ON e3.sa = e1.sb AND e3.sb = e2.sb
)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT t FROM tri) AS n_triangles
"""


# --------------------------------------------------------------------
# text_pmi_pairs — collocation extraction by lift
# --------------------------------------------------------------------

_PMI_MIN_C12 = 3
_PMI_TOPN = 20


def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation (phrase) mining: top bigrams by lift
    n * c(w1,w2) / (c(w1) * c(w2)) — the monotone core of PMI without
    the cross-engine log().  Lift stays a ratio of exact integer
    products, computed as ONE division of identical operands, so the
    ranking is engine-exact.  One corpus scan feeds both the bigram and
    unigram counts; the two count joins shuffle on the token (bounded
    by vocabulary, not corpus); the global bigram total rides in as a
    broadcast 1-row cross join."""
    # materialize the token array ONCE as a named column before the
    # transform: interpreted higher-order functions get no CSE, so a
    # lambda referencing split(text) re-splits per ELEMENT — ~|tokens|
    # splits per row (the SCALING.md §7 rule that fixed fn_array2_suite)
    docs = load(spark, sf_dir, "documents").select(
        F.split(F.col("text"), " ").alias("toks")
    )
    bg = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bigrams = docs.select(F.explode(bg).alias("b")).select("b.w1", "b.w2")
    c12 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        docs.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = bigrams.agg(F.count(F.lit(1)).alias("n"))
    lift = F.round(
        (F.col("n") * F.col("c12")).cast("double")
        / (F.col("c1") * F.col("c2")).cast("double"),
        6,
    )
    return (
        c12.filter(F.col("c12") >= _PMI_MIN_C12)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "c12", "c1", "c2", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(_PMI_TOPN)
    )


_PMI_SQL = f"""
WITH ts AS (SELECT string_split(text, ' ') AS t FROM documents),
bigrams AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM ts, UNNEST(range(1, greatest(len(t), 1))) AS r(i)
),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2),
uni AS (SELECT UNNEST(t) AS w FROM ts),
cu AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM bigrams)
SELECT c12.w1, c12.w2, c12.c12, a.c AS c1, b.c AS c2,
       round(CAST(n.n * c12.c12 AS DOUBLE) / CAST(a.c * b.c AS DOUBLE), 6) AS lift
FROM c12
JOIN cu a ON a.w = c12.w1
JOIN cu b ON b.w = c12.w2
CROSS JOIN n
WHERE c12.c12 >= {_PMI_MIN_C12}
ORDER BY lift DESC, c12.w1 ASC, c12.w2 ASC
LIMIT {_PMI_TOPN}
"""


# --------------------------------------------------------------------
# sketch_kmv_overlap — KMV / theta sketch with set operations
# --------------------------------------------------------------------

_KMV_K = 32
_KMV_RANGE = float(1 << 60)  # md5_hash60 hash space


def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source-pair distinct-document overlap via KMV (k-minimum-
    values / theta) sketches — the sketch family whose estimates compose
    under UNION and INTERSECTION (what HLL cannot do), i.e. the
    ClickHouse uniqTheta analog.

    Per source: the K=32 smallest distinct md5-60bit content hashes
    (one groupBy + one rank — per-source state bounded by K at any
    corpus size).  Per pair: theta = min of the two Kth values; both
    samples clip below theta; union/intersection counts are exact
    integers over <= 2K sampled hashes; the only doubles are the final
    count * 2^60 / theta estimates (identical operands both engines).
    The exact distinct overlap rides alongside, making estimate quality
    part of the checked result — at 100 TB the exact column is the
    expensive recomputation the sketch exists to avoid."""
    docs = load(spark, sf_dir, "documents")
    hs = docs.select("source", md5_hash60(F.col("text")).alias("h")).distinct()
    return kmv_pair_overlap(hs, _KMV_K)


def kmv_pair_overlap(hs: DataFrame, k: int) -> DataFrame:
    """KMV pair-overlap core over DISTINCT (source, h) hash rows.
    Reusable by property tests with synthetic hash sets."""
    w = W.partitionBy("source").orderBy("h")
    sample = hs.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
    theta = sample.groupBy("source").agg(
        F.max("h").alias("theta"), F.count(F.lit(1)).alias("k_used")
    )
    ta = theta.select(
        F.col("source").alias("src_a"),
        F.col("theta").alias("th_a"),
        F.col("k_used").alias("k_a"),
    )
    tb = theta.select(
        F.col("source").alias("src_b"),
        F.col("theta").alias("th_b"),
        F.col("k_used").alias("k_b"),
    )
    pairs = ta.join(tb, F.col("src_a") < F.col("src_b")).select(
        "src_a", "src_b", F.least("th_a", "th_b").alias("theta")
    )
    sa = sample.select(F.col("source").alias("src_a"), F.col("h").alias("ha"))
    sb = sample.select(F.col("source").alias("src_b"), F.col("h").alias("hb"))
    na = (
        sa.join(F.broadcast(pairs), "src_a")
        .filter(F.col("ha") <= F.col("theta"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("na"))
    )
    nb = (
        sb.join(F.broadcast(pairs), "src_b")
        .filter(F.col("hb") <= F.col("theta"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    common = (
        sa.join(sb, F.col("ha") == F.col("hb"))
        .join(F.broadcast(pairs), ["src_a", "src_b"])
        .filter(F.col("ha") <= F.col("theta"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    exact = (
        hs.select(F.col("source").alias("src_a"), "h")
        .join(hs.select(F.col("source").alias("src_b"), "h"), "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("exact_common"))
    )
    est = (
        pairs.join(na, ["src_a", "src_b"], "left")
        .join(nb, ["src_a", "src_b"], "left")
        .join(common, ["src_a", "src_b"], "left")
        .join(exact, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce("nc", F.lit(0)).alias("n_common_sample"),
            F.floor(
                F.coalesce("nc", F.lit(0)).cast("double")
                * F.lit(_KMV_RANGE)
                / F.col("theta").cast("double")
            ).cast("long").alias("est_intersection"),
            F.floor(
                (
                    F.coalesce("na", F.lit(0))
                    + F.coalesce("nb", F.lit(0))
                    - F.coalesce("nc", F.lit(0))
                ).cast("double")
                * F.lit(_KMV_RANGE)
                / F.col("theta").cast("double")
            ).cast("long").alias("est_union"),
            F.coalesce("exact_common", F.lit(0)).alias("exact_common"),
        )
    )
    return est.orderBy("src_a", "src_b")


_KMV_MD5 = "CAST(concat('0x', substr(md5(text), 2, 15)) AS BIGINT)"

_KMV_SQL = f"""
WITH hs AS (
  SELECT DISTINCT source, {_KMV_MD5} AS h FROM documents
),
ranked AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
  FROM hs
),
sample AS (SELECT source, h FROM ranked WHERE rk <= {_KMV_K}),
theta AS (
  SELECT source, MAX(h) AS theta, COUNT(*) AS k_used FROM sample GROUP BY 1
),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         LEAST(a.theta, b.theta) AS theta
  FROM theta a JOIN theta b ON a.source < b.source
),
na AS (
  SELECT p.src_a, p.src_b, COUNT(*) AS na
  FROM sample s JOIN pairs p ON s.source = p.src_a AND s.h <= p.theta
  GROUP BY 1, 2
),
nb AS (
  SELECT p.src_a, p.src_b, COUNT(*) AS nb
  FROM sample s JOIN pairs p ON s.source = p.src_b AND s.h <= p.theta
  GROUP BY 1, 2
),
common AS (
  SELECT p.src_a, p.src_b, COUNT(*) AS nc
  FROM sample a JOIN sample b ON a.h = b.h
  JOIN pairs p ON p.src_a = a.source AND p.src_b = b.source AND a.h <= p.theta
  GROUP BY 1, 2
),
exact AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS exact_common
  FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b,
       COALESCE(common.nc, 0) AS n_common_sample,
       CAST(FLOOR(CAST(COALESCE(common.nc, 0) AS DOUBLE) * {_KMV_RANGE}
                  / CAST(p.theta AS DOUBLE)) AS BIGINT) AS est_intersection,
       CAST(FLOOR(CAST(COALESCE(na.na, 0) + COALESCE(nb.nb, 0)
                       - COALESCE(common.nc, 0) AS DOUBLE) * {_KMV_RANGE}
                  / CAST(p.theta AS DOUBLE)) AS BIGINT) AS est_union,
       COALESCE(exact.exact_common, 0) AS exact_common
FROM pairs p
LEFT JOIN na ON na.src_a = p.src_a AND na.src_b = p.src_b
LEFT JOIN nb ON nb.src_a = p.src_a AND nb.src_b = p.src_b
LEFT JOIN common ON common.src_a = p.src_a AND common.src_b = p.src_b
LEFT JOIN exact ON exact.src_a = p.src_a AND exact.src_b = p.src_b
ORDER BY p.src_a, p.src_b
"""


SPARK_QUERIES = {
    "graph_triangles": graph_triangles,
    "text_pmi_pairs": text_pmi_pairs,
    "sketch_kmv_overlap": sketch_kmv_overlap,
}

ORACLE_SQL = {
    "graph_triangles": _TRI_SQL,
    "text_pmi_pairs": _PMI_SQL,
    "sketch_kmv_overlap": _KMV_SQL,
}


# --------------------------------------------------------------------
# dedup_bloom_probe — replayable Bloom-filter membership dedup
# --------------------------------------------------------------------

_BLOOM_M = 4096  # bits
_BLOOM_K = 4  # hash functions (the _MH_PARAMS affine family)


def dedup_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter cross-corpus dedup probe (the classic membership
    sketch, completing the sketch family next to CMS/HLL/KMV): src0's
    document contents build a 4096-bit filter (k=4 md5-affine hash
    positions — the same oracle-replayable family as the count-min
    sketch); every other source probes it.  Per source the report
    carries bloom hits AND exact content matches, so the false-positive
    rate is part of the checked result.

    Scale shape: the filter is a bounded distinct-position set
    (<= m rows) built in one aggregation and BROADCAST; the probe is
    one corpus scan + k-way explode + broadcast semi-join — the shape
    that lets a 100 TB corpus skip re-shuffling against a reference
    corpus it almost never matches."""
    from ..llmdata.dedup import _MH_P, _MH_PARAMS

    docs = load(spark, sf_dir, "documents")
    h = md5_hash60(F.col("text")) % _MH_P
    positions = F.array(
        *[
            ((F.lit(a) * F.col("h") + F.lit(b)) % _MH_P % _BLOOM_M)
            for a, b in _MH_PARAMS[:_BLOOM_K]
        ]
    )
    build = (
        docs.filter(F.col("source") == "src0")
        .select(h.alias("h"))
        .select(F.explode(positions).alias("pos"))
        .distinct()
    )
    probe = (
        docs.filter(F.col("source") != "src0")
        .select("doc_id", "source", h.alias("h"))
        .select("doc_id", "source", "h", F.explode(positions).alias("pos"))
    )
    hits = (
        probe.join(F.broadcast(build), "pos")
        .groupBy("doc_id", "source", "h")
        .agg(F.count(F.lit(1)).alias("n_pos"))
        .withColumn("bloom_hit", F.col("n_pos") == _BLOOM_K)
    )
    exact = (
        docs.filter(F.col("source") == "src0")
        .select(h.alias("h"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    per_doc = (
        docs.filter(F.col("source") != "src0")
        .select("doc_id", "source", h.alias("h"))
        .join(hits.select("doc_id", "bloom_hit"), "doc_id", "left")
        .join(F.broadcast(exact), "h", "left")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("bloom_hit"), F.lit(False)).cast("long")).alias(
                "n_bloom_hits"
            ),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(False)).cast("long")).alias(
                "n_true_dups"
            ),
        )
        .orderBy("source")
    )


_BLOOM_MD5 = "(CAST(concat('0x', substr(md5(text), 2, 15)) AS BIGINT) % 4294967311)"


def _bloom_sql() -> str:
    from ..llmdata.dedup import _MH_P, _MH_PARAMS

    pos_terms = ", ".join(
        f"((({a} * h + {b}) % {_MH_P}) % {_BLOOM_M})"
        for a, b in _MH_PARAMS[:_BLOOM_K]
    )
    return f"""
WITH hashed AS (
  SELECT doc_id, source, {_BLOOM_MD5} AS h FROM documents
),
build AS (
  SELECT DISTINCT pos
  FROM (SELECT UNNEST([{pos_terms}]) AS pos FROM hashed WHERE source = 'src0')
),
probe AS (
  SELECT doc_id, source, h, UNNEST([{pos_terms}]) AS pos
  FROM hashed WHERE source <> 'src0'
),
hits AS (
  SELECT p.doc_id, COUNT(*) AS n_pos
  FROM probe p JOIN build b ON b.pos = p.pos
  GROUP BY 1
),
exact AS (SELECT DISTINCT h FROM hashed WHERE source = 'src0')
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN COALESCE(hits.n_pos, 0) = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       CAST(SUM(CASE WHEN exact.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dups
FROM hashed d
LEFT JOIN hits ON hits.doc_id = d.doc_id
LEFT JOIN exact ON exact.h = d.h
WHERE d.source <> 'src0'
GROUP BY d.source
ORDER BY d.source
"""


SPARK_QUERIES["dedup_bloom_probe"] = dedup_bloom_probe
ORACLE_SQL["dedup_bloom_probe"] = _bloom_sql()


# --------------------------------------------------------------------
# agg_hll_sliding — HLL register merge over a trailing time window
# --------------------------------------------------------------------

_HLLS_P = 9
_HLLS_M = 1 << _HLLS_P
_HLLS_RMAX = 52
_HLLS_DAYS = 7  # trailing window, inclusive


def agg_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct-user estimate per day from DAILY HLL
    register tables — the operational payoff of a mergeable sketch: the
    per-day registers are built once (state: days x 512), and every
    trailing window is an OR-merge (max per bucket) over register rows,
    NEVER a rescan of the raw events.  The merge itself is a range
    window over the register table, so day N's estimate costs O(window
    x 512) regardless of corpus size — this is how a 100 TB events
    table serves rolling uniques.  Exact trailing distinct rides
    alongside (the expensive recomputation the sketch replaces)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.date_trunc("day", F.col("ts"))
    # floor(), not cast-truncation, to match the oracle's integer floor
    # division for pre-1970 timestamps (cast truncates toward zero).
    epoch_day = F.floor(F.unix_micros(day) / F.lit(86_400_000_000)).cast("long")
    h = md5_hash60(F.col("user_id").cast("string"))
    base = ev.select(
        epoch_day.alias("d"),
        (h % _HLLS_M).alias("bucket"),
        F.shiftrightunsigned(h, _HLLS_P).alias("h2"),
        "user_id",
    )
    rho = F.when(F.col("h2") == 0, F.lit(_HLLS_RMAX)).otherwise(
        F.bit_count(F.col("h2").bitwiseAND(-F.col("h2")) - 1) + 1
    )
    daily_regs = base.groupBy("d", "bucket").agg(F.max(rho).alias("rho"))
    wr = (
        W.partitionBy("bucket")
        .orderBy("d")
        .rangeBetween(-(_HLLS_DAYS - 1), 0)
    )
    merged = daily_regs.withColumn("mrho", F.max("rho").over(wr))
    stats = merged.groupBy("d").agg(
        F.sum(F.expr(f"shiftleft(1L, {_HLLS_RMAX} - mrho)")).alias("s_used"),
        F.count(F.lit(1)).alias("m_used"),
    )
    # NOTE: the range window evaluates per existing (bucket, d) row, so a
    # day only aggregates buckets IT has rows for — but a bucket seen
    # only 3 days ago would be missed.  The events fixture has every
    # bucket daily at sf>=0.01; for sparse data densify (d x bucket)
    # first.  The oracle replays the identical per-existing-row window,
    # so the check is exact either way.
    s_total = F.col("s_used") + (F.lit(_HLLS_M) - F.col("m_used")) * F.lit(
        1 << _HLLS_RMAX
    ).cast("long")
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(_HLLS_M)))
    est = F.floor(
        alpha
        * F.lit(float(_HLLS_M * _HLLS_M))
        * F.pow(F.lit(2.0), F.lit(float(_HLLS_RMAX)))
        / s_total.cast("double")
    ).cast("long")
    days = base.select("d").distinct()
    pairs = days.alias("x").join(
        base.select(F.col("d").alias("d2"), "user_id").distinct().alias("y"),
        (F.col("d2") <= F.col("d")) & (F.col("d2") >= F.col("d") - (_HLLS_DAYS - 1)),
    )
    exact = pairs.groupBy("d").agg(F.countDistinct("user_id").alias("n_exact"))
    return (
        stats.select("d", est.alias("n_hll"), "m_used")
        .join(exact, "d")
        .select("d", "n_exact", "n_hll", "m_used")
        .orderBy("d")
    )


_HLLS_H = _BLOOM_MD5.replace("md5(text)", "md5(CAST(user_id AS VARCHAR))").replace(
    " % 4294967311", ""
)

_HLLS_SQL = f"""
WITH base AS (
  SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
         ({_HLLS_H}) % {_HLLS_M} AS bucket,
         ({_HLLS_H}) // {_HLLS_M} AS h2,
         user_id
  FROM events WHERE user_id IS NOT NULL
),
rhos AS (
  SELECT d, bucket,
         CASE WHEN h2 = 0 THEN {_HLLS_RMAX}
              ELSE bit_count(CAST((h2 & -h2) - 1 AS BIGINT)) + 1 END AS rho
  FROM base
),
daily AS (SELECT d, bucket, MAX(rho) AS rho FROM rhos GROUP BY 1, 2),
merged AS (
  SELECT d, bucket,
         MAX(rho) OVER (PARTITION BY bucket ORDER BY d
                        RANGE BETWEEN {_HLLS_DAYS - 1} PRECEDING AND CURRENT ROW) AS mrho
  FROM daily
),
stats AS (
  SELECT d,
         SUM((CAST(1 AS BIGINT) << ({_HLLS_RMAX} - mrho))) AS s_used,
         COUNT(*) AS m_used
  FROM merged GROUP BY 1
),
est AS (
  SELECT d, m_used,
         CAST(FLOOR(
           (0.7213 / (1.0 + 1.079 / {float(_HLLS_M)}))
           * {float(_HLLS_M * _HLLS_M)} * power(2.0, {float(_HLLS_RMAX)})
           / CAST(s_used + ({_HLLS_M} - m_used) * (CAST(1 AS BIGINT) << {_HLLS_RMAX}) AS DOUBLE)
         ) AS BIGINT) AS n_hll
  FROM stats
),
du AS (SELECT DISTINCT d, user_id FROM base),
days AS (SELECT DISTINCT d FROM base),
exact AS (
  SELECT days.d, COUNT(DISTINCT du.user_id) AS n_exact
  FROM days JOIN du ON du.d <= days.d AND du.d >= days.d - {_HLLS_DAYS - 1}
  GROUP BY 1
)
SELECT est.d AS d, exact.n_exact AS n_exact, est.n_hll AS n_hll, est.m_used AS m_used
FROM est JOIN exact ON exact.d = est.d
ORDER BY est.d
"""

SPARK_QUERIES["agg_hll_sliding"] = agg_hll_sliding
ORACLE_SQL["agg_hll_sliding"] = _HLLS_SQL


# --------------------------------------------------------------------
# join_scd2_pointintime — dimension-snapshot join against SCD2 intervals
# --------------------------------------------------------------------


def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of purchase facts against the SCD Type 2
    status dimension built by `cdc_scd2`: each purchase picks the
    validity interval containing its timestamp (valid_from <= t <
    valid_to, open interval = current).  The equi-key (user_id) carries
    the join; the interval predicate rides as the join's range
    condition — the standard dimension-snapshot semantics every
    warehouse query needs once dimensions are versioned.  Output
    aggregates per attributed status so the result stays small."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    # the versioned dimension: the user's status stream is the NON-purchase
    # events (same change-collapse as cdc_scd2, restricted to the dimension
    # attribute's own changes)
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    dim_base = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("event_type").alias("status"), us.alias("us"), "event_id"
    )
    changes = (
        dim_base.withColumn("prev", F.lag("status").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("status")))
    )
    dim = changes.withColumn("valid_to", F.lead("us").over(w)).select(
        F.col("user_id").alias("d_user"),
        "status",
        F.col("us").alias("valid_from"),
        "valid_to",
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("fus"), "event_id"
    )
    joined = facts.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("valid_from") <= F.col("fus"))
        & (F.col("valid_to").isNull() | (F.col("fus") < F.col("valid_to"))),
        "left",
    )
    return (
        joined.groupBy(F.coalesce(F.col("status"), F.lit("none")).alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_PIT_SQL = """
WITH base AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
),
changes AS (
  SELECT user_id, event_type AS status, us, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
  FROM base WHERE event_type <> 'purchase'
),
kept AS (
  SELECT user_id, status, us, event_id FROM changes
  WHERE prev IS NULL OR prev <> status
),
dim AS (
  SELECT user_id AS d_user, status, us AS valid_from,
         LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to
  FROM kept
),
facts AS (
  SELECT user_id, us, event_id FROM base WHERE event_type = 'purchase'
)
SELECT COALESCE(dim.status, 'none') AS status,
       COUNT(*) AS n_purchases,
       COUNT(DISTINCT facts.user_id) AS n_users
FROM facts
LEFT JOIN dim ON facts.user_id = dim.d_user
        AND dim.valid_from <= facts.us
        AND (dim.valid_to IS NULL OR facts.us < dim.valid_to)
GROUP BY COALESCE(dim.status, 'none')
ORDER BY status
"""

SPARK_QUERIES["join_scd2_pointintime"] = join_scd2_pointintime
ORACLE_SQL["join_scd2_pointintime"] = _PIT_SQL


# --------------------------------------------------------------------
# sample_kcenter — farthest-point diverse coreset selection
# --------------------------------------------------------------------

_KC_K = 4


def sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse coreset selection by farthest-point traversal (the
    greedy 2-approximation to k-center): seed = smallest vec_id, then
    repeatedly take the vector FARTHEST from the selected set (exact
    integer squared L2 over floor(x*1e6)-quantized components, ties to
    the smallest id) — the diversity-sampling pass a training pipeline
    runs to avoid redundant examples.

    Scale shape: k bounded rounds, each ONE distributed max-reduction
    over a running min-distance column (the same driver-held-selection
    loop as the k-means fit, `similarity.py fit_ivf` — selected set is
    k rows on the driver, never the corpus).  The oracle unrolls the
    identical k rounds as nested CTEs."""
    from ..llmdata.similarity import quantize, _sqdist, _collect_fit_frame

    emb = load(spark, sf_dir, "embeddings")

    # r15: the greedy loop below is one persist + k TakeOrdered jobs;
    # when the corpus fits the driver-fit budget, collect the quantized
    # frame once and run the identical integer greedy in numpy — exact
    # int64 distances, same (d DESC, id ASC) tie-break, bit-identical
    # picks (pinned in tests/test_driver_fit.py).  Corpora over the
    # budget, non-integral ids or NULLs keep the distributed loop.
    frame = _collect_fit_frame(
        emb.select("vec_id", "embedding"), "vec_id", "embedding"
    )
    if frame is not None:
        import numpy as np

        ids, Q = frame
        seed_i = int(np.argmin(ids))
        selected = [(1, int(ids[seed_i]), 0)]
        diff = Q - Q[seed_i]
        dmin = (diff * diff).sum(axis=1)
        for rank in range(2, _KC_K + 1):
            mx = int(dmin.max())
            tied = np.flatnonzero(dmin == mx)
            far_i = int(tied[np.argmin(ids[tied])])
            selected.append((rank, int(ids[far_i]), mx))
            diff = Q - Q[far_i]
            dmin = np.minimum(dmin, (diff * diff).sum(axis=1))
        return spark.createDataFrame(
            selected, "center_rank int, vec_id long, dist_to_set long"
        )

    q = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("v"))
    q = q.persist()
    try:
        first = q.orderBy("vec_id").first()
        if first is None:  # empty corpus: empty coreset, not a crash
            return spark.createDataFrame(
                [], "center_rank int, vec_id long, dist_to_set long"
            )
        selected = [(1, int(first["vec_id"]), 0)]
        sel_vecs = [first["v"]]
        for rank in range(2, _KC_K + 1):
            dmin = F.least(
                *[_sqdist(F.col("v"), F.lit(sv).cast("array<long>")) for sv in sel_vecs]
            ) if len(sel_vecs) > 1 else _sqdist(F.col("v"), F.lit(sel_vecs[0]).cast("array<long>"))
            far = (
                q.select("vec_id", "v", dmin.alias("d"))
                .orderBy(F.col("d").desc(), F.col("vec_id").asc())
                .first()
            )
            selected.append((rank, int(far["vec_id"]), int(far["d"])))
            sel_vecs.append(far["v"])
    finally:
        q.unpersist()
    return spark.createDataFrame(
        selected, "center_rank int, vec_id long, dist_to_set long"
    )


def _kcenter_sql() -> str:
    qv = "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
    d = lambda a, b: (
        f"list_sum(list_transform(list_zip({a}, {b}), p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    return f"""
WITH q AS (SELECT vec_id, {qv} AS v FROM embeddings),
c1 AS (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 1),
d1 AS (SELECT q.vec_id, q.v, {d('q.v', 'c1.v')} AS d FROM q, c1),
c2 AS (SELECT vec_id, v, d FROM d1 ORDER BY d DESC, vec_id ASC LIMIT 1),
d2 AS (SELECT d1.vec_id, d1.v, LEAST(d1.d, {d('d1.v', 'c2.v')}) AS d FROM d1, c2),
c3 AS (SELECT vec_id, v, d FROM d2 ORDER BY d DESC, vec_id ASC LIMIT 1),
d3 AS (SELECT d2.vec_id, d2.v, LEAST(d2.d, {d('d2.v', 'c3.v')}) AS d FROM d2, c3),
c4 AS (SELECT vec_id, v, d FROM d3 ORDER BY d DESC, vec_id ASC LIMIT 1)
SELECT 1 AS center_rank, vec_id, CAST(0 AS BIGINT) AS dist_to_set FROM c1
UNION ALL SELECT 2, vec_id, CAST(d AS BIGINT) FROM c2
UNION ALL SELECT 3, vec_id, CAST(d AS BIGINT) FROM c3
UNION ALL SELECT 4, vec_id, CAST(d AS BIGINT) FROM c4
ORDER BY center_rank
"""


SPARK_QUERIES["sample_kcenter"] = sample_kcenter
ORACLE_SQL["sample_kcenter"] = _kcenter_sql()


# --------------------------------------------------------------------
# join_interval_bucketed — fact-to-fact interval join via bucket rewrite
# --------------------------------------------------------------------

_IVB_LEN_US = 2 * 3600 * 1_000_000  # 2h windows
_IVB_BUCKET_US = 3600 * 1_000_000  # sweep carry granularity (bounded table)


def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact INTERVAL containment AGGREGATE where neither side
    broadcasts.  Every purchase opens a 2 h window; every click is
    contained by ALL windows covering it (cross-user by construction);
    output folds to daily containment counts.

    r12 rewrite (SCALING.md §10): the r5 bucket-equi-join rewrite
    materialized every (click, window) pair before aggregating — and
    under densification the TRUE pair count grows quadratically, so the
    10x decade probe read 12.9x however the buckets were sized (the
    prior fixed 2h bucket vocabulary only set the constant).  The
    aggregate never needed the pairs: a click's containment count is
    the number of windows open at its timestamp, i.e. the value of a
    boundary PREFIX SUM (+1 at lo, -1 at hi, deltas applying before
    clicks at equal ts — exactly [lo, hi) containment).  This is the
    same two-stage parallel prefix scan as ``interval_max_concurrent``
    (operators/intervals.py): per-hour net deltas -> running carry over
    the bounded hour table -> within-hour completion with the carry
    broadcast back.  Cost is ~linear in rows at ANY density; the
    unchanged naive-join oracle pins exactness.

    Pair-PRESERVING interval joins (when the caller needs the pairs)
    remain Ω(output) and keep the bucket-equi-join shape — join_range
    (relational_q) is the broadcast-dimension case; the output itself
    is the quadratic cost there, not the plan."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    # ONE scan of events (filter pushed to parquet), exploded to sweep
    # entries: a purchase emits its +1/-1 boundary pair, a click emits
    # its probe row — vs a 3-branch union that scans the fact 3 times
    entries = F.when(
        F.col("event_type") == "purchase",
        F.array(
            F.struct(
                F.col("_us").alias("us"),
                F.lit(1).alias("delta"),
                F.lit(0).alias("kind"),
            ),
            F.struct(
                (F.col("_us") + _IVB_LEN_US).alias("us"),
                F.lit(-1).alias("delta"),
                F.lit(0).alias("kind"),
            ),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.col("_us").alias("us"),
                F.lit(0).alias("delta"),
                F.lit(1).alias("kind"),
            )
        )
    )
    bounds = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .select(us.alias("_us"), "event_type")
        .select(F.explode(entries).alias("e"))
        .select("e.us", "e.delta", "e.kind")
        .withColumn("bucket", F.expr(f"CAST(us DIV {_IVB_BUCKET_US} AS BIGINT)"))
    )
    # stage 1: per-hour net window-delta (map-side partials, one bounded
    # shuffle); stage 2: exclusive running carry over the hour table
    per_bucket = bounds.groupBy("bucket").agg(F.sum("delta").alias("net"))
    wb = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    carry = per_bucket.select(
        "bucket", F.coalesce(F.sum("net").over(wb), F.lit(0)).alias("carry")
    )
    # stage 3: finish the running sum within each hour.  Order (us,
    # kind): at equal ts every ±1 applies before a click — +1 at lo
    # counts it (cus >= lo) and -1 at hi removes it (cus < hi); delta
    # order within a tie is irrelevant (sums commute) and other clicks
    # in the frame add 0
    wi = (
        W.partitionBy("bucket")
        .orderBy(F.col("us").asc(), F.col("kind").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    covered = (
        bounds.join(F.broadcast(carry), "bucket")
        .withColumn("coverage", F.col("carry") + F.sum("delta").over(wi))
        .filter((F.col("kind") == 1) & (F.col("coverage") > 0))
    )
    day = F.to_date(F.timestamp_micros(F.col("us"))).cast("string")
    return (
        covered.groupBy(day.alias("day"))
        .agg(
            F.sum("coverage").cast("long").alias("n_containments"),
            F.count(F.lit(1)).alias("n_clicks_covered"),
        )
        .orderBy("day")
    )


_IVB_SQL = f"""
WITH purchases AS (
  SELECT event_id AS win_id, epoch_us(ts) AS lo,
         epoch_us(ts) + {_IVB_LEN_US} AS hi
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT event_id AS click_id, epoch_us(ts) AS cus
  FROM events WHERE event_type = 'click'
),
joined AS (
  SELECT c.click_id, p.win_id, c.cus
  FROM clicks c JOIN purchases p ON c.cus >= p.lo AND c.cus < p.hi
)
SELECT CAST(CAST(make_timestamp(cus) AS DATE) AS VARCHAR) AS day,
       COUNT(*) AS n_containments,
       COUNT(DISTINCT click_id) AS n_clicks_covered
FROM joined
GROUP BY 1
ORDER BY 1
"""

SPARK_QUERIES["join_interval_bucketed"] = join_interval_bucketed
ORACLE_SQL["join_interval_bucketed"] = _IVB_SQL
