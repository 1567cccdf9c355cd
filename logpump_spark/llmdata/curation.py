"""Corpus-curation operators: tf-idf term weighting, deterministic
stratified sampling, benchmark decontamination, corpus vocabulary
stats, and exact top-p selection.

Single-plan pipelines, no collect of corpus data:
- tf-idf: explode -> two grouped aggregations (term frequency per doc,
  document frequency per term) joined back; the corpus total is a
  1-row aggregate broadcast via crossJoin — a scalar, not a shuffle.
- stratified sample: one window pass per stratum; the sampling key is a
  Knuth-style multiplicative hash of the id, so the sample is
  deterministic, reproducible across engines (pure int64 arithmetic),
  and stable under reruns — properties rand()-based sampleBy lacks.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .dedup import tokens_col
from ..operators.materialize import materialize as _mat

# Knuth multiplicative constant (2654435761 = floor(2^32/phi)) modulo a
# prime: spreads sequential ids uniformly; exact in int64 for id < ~3.4e9
_SAMPLE_MULT = 2_654_435_761
_SAMPLE_MOD = 1_000_000_007


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 3,
) -> DataFrame:
    """Top-``top_n`` terms per document by smoothed tf-idf
    (idf = ln((N+1)/(df+1)) + 1), ties broken on term ascending.

    Scale shape: the (doc, term) explode is the only big intermediate;
    tf and df are partial-aggregated map-side before their shuffles, and
    the df table (one row per distinct term) is broadcast back onto tf.

    r16: the tf aggregate is MATERIALIZED once (conf-aware _mat) — it
    feeds both the df derivation and the scored join, and the executed
    AQE plan ran the explode + (doc, term) agg plane twice (zero
    ReusedExchange; the corpus_overlap finding).  Full-window
    interleaved A/B (materialization inside the timed region): sf0.1
    0.84 -> 0.85 s (neutral wall — the duplicate planes ran
    concurrently), decade 1.31 -> 1.20 s (0.91x); total WORK halves
    (one explode+agg plane instead of two).  Results identical.  The
    persisted frame is the post-aggregation (doc, term, tf) table the
    query already shuffles once."""
    tok = docs.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
    tf = _mat(tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(total))
        .withColumn("tfidf", F.round(F.col("tf") * idf, 6))
    )
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str = "source",
    frac: float = 0.2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sample: rank rows inside each stratum by
    a multiplicative hash of the id and keep the first ceil(n * frac).

    Guarantees exact per-stratum proportions (rand()-based sampling only
    hits them in expectation) and total reproducibility — the property a
    training-data pipeline needs to re-derive the same corpus snapshot."""
    key = (F.col(id_col) * _SAMPLE_MULT) % _SAMPLE_MOD
    w = W.partitionBy(strata_col).orderBy(key.asc(), F.col(id_col).asc())
    wn = W.partitionBy(strata_col)
    return (
        df.withColumn("strat_n", F.count(F.lit(1)).over(wn))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= F.ceil(F.col("strat_n") * F.lit(frac)))
    )


def decontaminate_ngram_overlap(
    docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    k-token shingle with an evaluation set (the standard pretraining
    hygiene step — eval text must not leak into training data).

    Returns (id_col, n_hits) for contaminated corpus docs only —
    n_hits = number of DISTINCT shingles of the doc that appear anywhere
    in the eval set.

    Scale shape: shingles are md5-derived 60-bit ints (8-byte keys, and
    the exact hash a SQL oracle replays — dedup.md5_hash60); each doc's
    DISTINCT shingle hashes come out of one native projection, and only
    the 8-byte hashes explode.  The eval shingle set is tiny relative
    to the corpus and BROADCAST, so the corpus side is one scan +
    explode + broadcast-semi-join + one grouped count.  No corpus
    self-join, no shuffle of corpus text.

    r15: the shingle hashes are the same native split -> slice/
    array_join -> array_distinct -> md5_hash60 projection as
    boilerplate_flag (bit-identical to the old Arrow-batched hashlib
    UDF, hexdigest[1:16] == conv(substring(md5, 2, 15)); NULL text
    coalesces to '' exactly as the UDF did), with the CPU-bound corpus
    side fanned out (operators/fanout.py — the no-fanout native form
    measured WORSE than the UDF, 2.8 vs 1.9 s: the chain otherwise
    runs on a handful of scan tasks).  Interleaved A/B at sf0.1:
    1.58 -> 1.16 s (0.73x), results exact incl. the NULL twin."""
    from ..operators.fanout import fan_out
    from .dedup import md5_hash60, shingles_col

    def _shingle_hashes(df: DataFrame) -> DataFrame:
        toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        return (
            df.select(F.col(id_col), toks.alias("_toks"))
            .select(
                F.col(id_col),
                F.explode(
                    F.array_distinct(shingles_col(F.col("_toks"), k))
                ).alias("s"),
            )
            .select(id_col, md5_hash60(F.col("s")).alias("h"))
        )

    eval_hashes = _shingle_hashes(eval_docs).select("h").distinct()
    corpus = _shingle_hashes(fan_out(docs, id_col, text_col))
    return (
        corpus.join(F.broadcast(eval_hashes), "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def corpus_vocab_topk(
    docs: DataFrame,
    top_k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary statistics: the ``top_k`` tokens by total
    occurrence count, with document frequency — the vocabulary-building
    / Zipf-inspection pass every tokenizer pipeline starts from.

    One explode + one grouped aggregation (count + exact distinct doc
    count, partial map-side) + a distributed top-k (TakeOrdered, no
    global sort).  Ties break on the token string so ranks are
    deterministic in any engine."""
    tok = docs.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("token"))
    stats = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct(F.col(id_col)).alias("n_docs"),
    )
    w = W.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return (
        stats.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "token", "n_occurrences", "n_docs")
    )


# id-bucket width for the at-cut tie rank: each ranking task handles at
# most this many rows, and the per-bucket carry table is |id range|/width
# rows (8-byte aggregates), the same factor-B reduction as the hour
# buckets in operators/intervals.py max_concurrent_intervals.
_TIE_BUCKET = 4096


def top_p_by_score(
    df: DataFrame,
    p_pct: int = 10,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT top-``p_pct``% selection by (score DESC, id ASC) — the
    scale-safe shape: a global ntile/rank funnels the whole corpus
    through one ordered partition, so instead

    1. build the score HISTOGRAM (|distinct scores| rows — tiny);
    2. walk it once (window over the histogram, not the corpus) to find
       the cutoff score and how many rows to admit AT the cutoff;
    3. broadcast the 1-row cutoff: rows above it pass outright, and the
       cutoff-value rows — the single heavy-tie group — fill the
       remainder in id-ASC order via a two-stage prefix scan (below),
       so even the degenerate all-docs-one-score corpus never funnels
       through one task.

    The tie rank is the textbook two-stage parallel prefix scan (same
    shape as operators/intervals.py max_concurrent_intervals): bucket
    the tied rows by ``id DIV _TIE_BUCKET``, aggregate per-bucket
    counts, run the exclusive carry over the bounded bucket table, and
    broadcast back the ONE boundary bucket where the carry crosses
    ``k_at_cut``.  Buckets before it pass whole, buckets after it drop,
    and only the boundary bucket (<= _TIE_BUCKET rows, any input
    distribution) is ranked row-by-row.

    target = ceil(n * p/100) in exact integer arithmetic, so any SQL
    engine replays the identical selection.

    PRECONDITION: ``id_col`` must be an integral column — the tie-bucket
    key is ``id DIV _TIE_BUCKET``, which throws on strings under Spark 4
    ANSI mode and (worse) yields NULL buckets under non-ANSI, silently
    dropping every at-cut row.  Fails fast here instead.  Non-integral
    ids need a monotone integral encoding first (the at-cut order is
    (score DESC, id ASC), so the encoding must preserve id order —
    xxhash64 does NOT qualify)."""
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"top_p_by_score requires an integral id_col for the tie "
            f"bucket (id DIV {_TIE_BUCKET}); {id_col!r} is "
            f"{id_type.simpleString()} — pre-encode it to a monotone "
            f"integer first"
        )
    hist = df.groupBy(F.col(score_col).alias("s")).agg(F.count(F.lit(1)).alias("cnt"))
    w_desc = W.orderBy(F.col("s").desc()).rowsBetween(W.unboundedPreceding, W.currentRow)
    total = hist.agg(F.sum("cnt").alias("n"))
    cut = (
        hist.withColumn("cum", F.sum("cnt").over(w_desc))
        .crossJoin(F.broadcast(total))
        .withColumn("target", F.expr(f"(n * {p_pct} + 99) DIV 100"))
        .filter(F.col("cum") >= F.col("target"))
        .orderBy(F.col("s").desc())
        .limit(1)
        .select(
            F.col("s").alias("cut_score"),
            (F.col("target") - (F.col("cum") - F.col("cnt"))).alias("k_at_cut"),
        )
    )
    j = df.crossJoin(F.broadcast(cut))
    above = j.filter(F.col(score_col) > F.col("cut_score")).select(id_col, score_col)

    at_cut = j.filter(F.col(score_col) == F.col("cut_score")).withColumn(
        "bucket", F.expr(f"CAST({id_col} DIV {_TIE_BUCKET} AS BIGINT)")
    )
    per_bucket = at_cut.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt"), F.first("k_at_cut").alias("k")
    )
    # exclusive carry over the per-bucket aggregate (bounded reducer:
    # |id range|/_TIE_BUCKET rows, never raw corpus rows)
    wb = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    carried = per_bucket.withColumn(
        "carry", F.coalesce(F.sum("cnt").over(wb), F.lit(0))
    )
    # exactly one bucket straddles the k_at_cut admission boundary
    # (prefix counts are strictly increasing), so this broadcast is 1 row
    boundary = carried.filter(
        (F.col("carry") < F.col("k")) & (F.col("carry") + F.col("cnt") >= F.col("k"))
    ).select(
        F.col("bucket").alias("b_bucket"),
        (F.col("k") - F.col("carry")).alias("take"),
    )
    ab = at_cut.crossJoin(F.broadcast(boundary))
    whole = ab.filter(F.col("bucket") < F.col("b_bucket")).select(id_col, score_col)
    w_edge = W.partitionBy("bucket").orderBy(F.col(id_col).asc())
    edge = (
        ab.filter(F.col("bucket") == F.col("b_bucket"))
        .withColumn("_rn", F.row_number().over(w_edge))
        .filter(F.col("_rn") <= F.col("take"))
        .select(id_col, score_col)
    )
    return above.unionByName(whole).unionByName(edge)


def boilerplate_flag(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 3,
    top_k: int = 200,
    max_frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boilerplate detection (the RefinedWeb/C4-style repeated-template
    pass): find the ``top_k`` k-token shingles that repeat across at
    least ``min_docs`` DISTINCT documents — navigation chrome, legal
    footers, scraper artifacts — then score every document by the
    fraction of its shingles that are boilerplate and flag docs
    exceeding ``max_frac``.

    Emits (id, n_shingles, n_boiler, boiler_frac, is_boilerplate).

    Scale shape: shingles travel as md5-derived 60-bit ints (8-byte
    keys, oracle-replayable — same hash as decontamination); the hot
    set is head-of-distribution and CAPPED at ``top_k`` via a
    distributed TakeOrdered, so the join back is a BROADCAST
    (driver-bounded at top_k rows) against one corpus scan.  Without
    the cap the hot set is unbounded and the join degrades to a
    corpus-wide shuffle — the cap IS the 100 TB design.

    r15: the shingle hashes are ONE native projection (split -> slice/
    array_join -> the shared md5_hash60 — the identical 60-bit integer
    the old Arrow-batched hashlib UDF produced, hexdigest[1:16] ==
    conv(substring(md5, 2, 15))), fanned out across the session's cores
    (operators/fanout.py).  Dropping the Python boundary removed the
    ArrowEvalPython node from BOTH consumers of `sh` and measured
    2.7 -> ~1.0 s at sf0.1 (fan-out 2.7 -> 2.0, native expr 2.0 -> 1.0;
    results bit-identical including NULL text, which coalesces to ''
    exactly as the UDF did)."""
    from ..operators.fanout import fan_out
    from .dedup import md5_hash60, shingles_col

    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    # `sh` is consumed by BOTH branches below (hot-set build and per-doc
    # score), each re-evaluating the projection at full width; _toks is
    # a named column so the interpreted shingle lambda never re-splits
    # (SCALING.md §7)
    sh = (
        fan_out(docs, id_col, text_col)
        .select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(shingles_col(F.col("_toks"), k)).alias("s"))
        .select(id_col, md5_hash60(F.col("s")).alias("h"))
    )
    hot = (
        sh.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(F.col(id_col)).alias("n_docs"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_docs").desc(), F.col("h").asc())
        .limit(top_k)
        .select("h")
    )
    flagged = (
        sh.join(F.broadcast(hot.withColumn("is_hot", F.lit(1))), "h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("is_hot"), F.lit(0))).alias("n_boiler"),
        )
    )
    frac = F.col("n_boiler") / F.col("n_shingles")
    return flagged.select(
        id_col,
        "n_shingles",
        "n_boiler",
        F.round(frac, 6).alias("boiler_frac"),
        (frac > max_frac).alias("is_boilerplate"),
    )


def merge_by_priority(
    docs: DataFrame,
    priority: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multi-corpus merge with priority-based survivor selection: when
    the same content (md5 fingerprint of ``text_col``) appears in
    several source corpora, keep the copy with the LOWEST ``priority``
    value (ties to the smallest id) — the "prefer the curated source
    over the crawl" step of assembling a training mix from overlapping
    corpora.

    Emits one row per distinct content: the winning copy plus
    ``n_copies`` / ``n_sources`` provenance counts.

    Scale shape: one shuffle keyed on the content fingerprint (winner
    pick and provenance counts ride the same window partitioning); text
    itself shuffles once as part of the winning row — at 100 TB,
    project ids + fingerprints first and join winners back if rows are
    huge."""
    fp = F.md5(F.col(text_col))
    w = W.partitionBy("fp").orderBy(priority.asc(), F.col(id_col).asc())
    wn = W.partitionBy("fp")
    return (
        docs.withColumn("fp", fp)
        .withColumn("pri", priority)
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(wn))
        .withColumn("n_sources", F.size(F.collect_set("source").over(wn)))
        .filter(F.col("rk") == 1)
        .drop("rk", "pri")
    )


def source_overlap_matrix(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, the
    count of shared distinct k-token shingles and the shingle-set
    Jaccard — the corpus-level audit that finds a source mirroring (or
    quoting wholesale from) another before training-set mixing.

    Scale shape: ONE distinct over (source, shingle) — cardinality
    bounded by total distinct shingles x sources — then a groupBy
    shingle whose per-group state is the SOURCE SET (bounded by the
    number of sources, never by corpus size), pair-expanded in place
    with higher-order functions.  No shingle self-join: a hot shingle
    shared by every source costs |sources|^2 pairs once, not
    |occurrences|^2.  Per-source set sizes broadcast into the final
    division."""
    from .dedup import ordered_pair_structs, shingles_col, tokens_col

    from ..operators.fanout import fan_out

    # materialize the token array before shingles_col: its transform
    # lambda slices the array per shingle, and an inline split(text)
    # would re-split once per ELEMENT (the SCALING.md §7 interpreted-HOF
    # rule; same fix as text_pmi_pairs / sample_dsir).  The
    # tokenize/shingle/explode plane is the CPU — fan it out across the
    # session's cores first (operators/fanout.py; measured 1.9 -> 1.3 s
    # on corpus_overlap at sf0.1 where the single-row-group scan
    # otherwise runs it one-task).
    sh = (
        fan_out(docs.filter(F.col(text_col).isNotNull()), group_col, text_col)
        .select(F.col(group_col).alias("src"), tokens_col(text_col).alias("toks"))
        .select("src", F.explode(shingles_col(F.col("toks"), k)).alias("sh"))
    )
    # ONE corpus shuffle total: collect_set dedups (src, shingle)
    # occurrences itself — partial aggregation dedups map-side — so no
    # separate DISTINCT pass.  r16: the per-shingle aggregate is
    # MATERIALIZED once (conf-aware _mat) — the r15 shape relied on
    # ReusedExchange to share it across the three consumers (sizes +
    # pair counts + the final join), but the executed AQE plan shows
    # zero ReusedExchange: the whole tokenize/shingle/explode/agg plane
    # ran 3x (executed plan: 6 scans, 6 Generates, 6 exchanges).
    # Full-window interleaved A/B (materialization charged to the same
    # timed region as the rest, medians of 5): sf0.1 1.27 -> 1.15 s
    # (0.90x), decade 2.37 -> 2.26 s (0.95x) wall — modest locally
    # because the three duplicate planes ran concurrently on idle cores;
    # the total WORK (scans, explodes, shuffles) drops 3x -> 1x, which
    # is what counts when the cluster is not idle.  The materialized
    # frame is the post-aggregation distinct-shingle table — the same
    # bytes the query already shuffles once, persisted instead of
    # recomputed.
    srcsets_all = _mat(
        sh.groupBy("sh").agg(F.array_sort(F.collect_set("src")).alias("ss"))
    )
    sizes = (
        srcsets_all.select(F.explode("ss").alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    srcsets = srcsets_all.filter(F.size("ss") >= 2)
    pair_structs = ordered_pair_structs(
        F.col("ss"),
        lambda x, y: F.struct(x.alias("src_a"), y.alias("src_b")),
    )
    pairs = (
        srcsets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("src").alias("src_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("src").alias("src_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .select("src_a", "src_b", "n_common", "n_a", "n_b", "jaccard")
    )


def oov_rate(
    docs: DataFrame,
    vocab_k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-k
    vocabulary — the coverage check run before freezing a tokenizer
    (how much of each doc the vocab fails to cover).

    Two corpus passes by construction (the same sanctioned shape as
    boilerplate_flag's hot-shingle pass): pass 1 builds the top-k vocab
    (token counts with map-side partials + distributed TakeOrdered,
    deterministic count-desc/token-asc tie rule), which is k rows —
    BROADCAST; pass 2 explodes tokens once and counts vocab misses per
    doc.  The OOV ratio is one division of exact integers, rounded 6dp.
    """
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(vocab_k)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .withColumn(
            "oov_rate", F.round(F.col("n_oov") / F.col("n_tokens"), 6)
        )
    )
