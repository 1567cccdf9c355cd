"""Corpus quality filtering: Gopher-style rule gates, duplicate-n-gram
repetition ratios, and PII detection/redaction.

These are the cheap high-throughput gates a training-data pipeline runs
BEFORE expensive dedup/scoring stages (the rule set follows the
published Gopher/C4 heuristics).  The rule gates and PII are pure
Column expressions — one whole-stage-codegen'd projection pass — and
the repetition ratios are one Arrow-batched projection (per-doc stats
need no shuffle).  No collect; every count is an exact integer and
every ratio a single IEEE division, so results are engine-reproducible
bit-for-bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.materialize import materialize as _mat

from .dedup import tokens_col
from .text import STOPWORDS

# Gopher-style thresholds (public heuristics, tuned down to the synthetic
# corpus's scale so both pass and fail populations are non-trivial)
MIN_WORDS = 10
MAX_WORDS = 10_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_WORD_RATIO = 0.1
MIN_ALPHA_WORD_FRAC = 0.8
MIN_STOPWORD_HITS = 1


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher-style quality gate.

    Emits the raw features (exact integer counts; ratios left as single
    divisions), one boolean per rule, and the conjunction `keep`.
    """
    toks = tokens_col(text_col)
    text = F.col(text_col)
    n_words = F.size(toks)
    # mean word length without re-tokenizing: total chars minus the
    # single-space separators, over the word count
    mean_wl = (F.length(text) - (n_words - 1)) / n_words
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    n_symbol = F.length(F.regexp_replace(text, r"[^#…]", ""))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))

    r_words = (n_words >= MIN_WORDS) & (n_words <= MAX_WORDS)
    r_mean = (mean_wl >= MIN_MEAN_WORD_LEN) & (mean_wl <= MAX_MEAN_WORD_LEN)
    r_symbol = (n_symbol / n_words) <= MAX_SYMBOL_WORD_RATIO
    r_alpha = (n_alpha_words / n_words) >= MIN_ALPHA_WORD_FRAC
    r_stop = n_stop >= MIN_STOPWORD_HITS

    return df.select(
        "*",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        n_alpha_words.alias("n_alpha_words"),
        n_symbol.alias("n_symbol"),
        n_stop.alias("n_stopword_hits"),
        r_words.alias("rule_word_count"),
        r_mean.alias("rule_mean_word_len"),
        r_symbol.alias("rule_symbol_ratio"),
        r_alpha.alias("rule_alpha_words"),
        r_stop.alias("rule_stopwords"),
        (r_words & r_mean & r_symbol & r_alpha & r_stop).alias("keep"),
    )


def repetition_ratios(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Duplicate-n-gram repetition features per document.

    - ``dup_bigram_char_frac``: fraction of bigram characters that sit in
      bigrams occurring ≥2 times in the doc (the Gopher dup-ngram rule);
    - ``top_word_frac``: share of the single most frequent word;
    both as exact-integer numerators/denominators plus one division
    (done as a Column expression so the IEEE op matches the oracle's).

    Scale shape: every statistic here is a function of ONE document, so
    the operator needs NO shuffle at all — one Arrow-batched projection
    computes the exact integer counts per doc (Python Counter over the
    same split/concat semantics as the SQL oracle).  The previous shape
    exploded corpus x grams through two grouped aggregations; at 100 TB
    that shuffle dominates and carries data that never leaves its own
    document.  Docs under 2 words emit no row (no bigrams — mirroring
    the oracle's inner join of the bigram and word aggregates)."""

    @F.pandas_udf(
        "bigram_chars long, dup_bigram_chars long, top_word_cnt long, n_words long"
    )
    def _rep(texts: pd.Series) -> pd.DataFrame:
        from collections import Counter

        cols: dict[str, list[int]] = {
            "bigram_chars": [],
            "dup_bigram_chars": [],
            "top_word_cnt": [],
            "n_words": [],
        }
        for t in texts:
            words = ("" if t is None else t).split(" ")
            bc = Counter(a + " " + b for a, b in zip(words, words[1:]))
            cols["bigram_chars"].append(sum(len(g) * c for g, c in bc.items()))
            cols["dup_bigram_chars"].append(
                sum(len(g) * c for g, c in bc.items() if c >= 2)
            )
            wc = Counter(words)
            cols["top_word_cnt"].append(max(wc.values()))
            cols["n_words"].append(len(words))
        return pd.DataFrame(cols)

    return (
        df.filter(F.size(tokens_col(text_col)) >= 2)
        .select(F.col(id_col), _rep(F.col(text_col)).alias("_r"))
        .select(
            id_col,
            "_r.bigram_chars",
            "_r.dup_bigram_chars",
            (F.col("_r.dup_bigram_chars") / F.col("_r.bigram_chars")).alias(
                "dup_bigram_char_frac"
            ),
            "_r.top_word_cnt",
            "_r.n_words",
            (F.col("_r.top_word_cnt") / F.col("_r.n_words")).alias("top_word_frac"),
        )
    )


# PII patterns kept to constructs with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): literal classes, +, {n}, no backrefs/lookahead
EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+[A-Za-z0-9]"
PHONE_RE = "[+]1-555-[0-9]{4}"


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Detect and redact e-mail / phone PII in one projection pass.

    Emits match counts, the redacted text's length and fingerprint, and a
    ``has_pii`` flag.  Redaction replaces every match with a fixed-width
    sentinel so downstream token counts stay stable.  ``keep_cols`` ride
    along unchanged so a pipeline can scrub WITHOUT a re-derive-and-join
    (joining a DataFrame back to a projection of itself makes Catalyst
    evaluate the whole upstream twice — a double corpus scan at 100 TB).

    The four-regex pass is the cost, so the projected rows are fanned
    out across the session's cores first (operators/fanout.py; measured
    0.55 -> 0.22 s on text_pii_scrub at sf0.1, where the
    single-row-group scan otherwise runs every regex on one task).
    """
    from ..operators.fanout import fan_out

    df = fan_out(df, id_col, *keep_cols, text_col)
    text = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0))
    n_phone = F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        ((n_email + n_phone) > 0).alias("has_pii"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


def bigram_lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> DataFrame:
    """Statistical-LM quality score (the CCNet/KenLM perplexity gate,
    integer-exact variant): train bigram continuation statistics on the
    corpus itself, then score each document by the average scaled MLE
    continuation probability of its bigrams —
    ``mean_i( count(w_i w_{i+1}) * scale // count(w_i) )``.

    Monotone in the same direction as negative log perplexity of the
    corpus bigram model, but every step is int64 arithmetic (counts,
    floor divisions), so scores — and any threshold gate on them — are
    bit-identical across engines; a log-space sum would be order- and
    libm-dependent.  Docs with <2 tokens emit no row (no bigrams).

    Scale shape: the corpus-sized bigram stream is aggregated to
    per-doc bigram counts FIRST (one shuffle with map-side combine);
    everything downstream — the global bigram table, the continuation
    totals, the probability join, and the join back — runs on count
    tables, never on the raw bigram stream (sum of p over a doc's
    bigrams = sum over its DISTINCT bigrams of in-doc count x p).  The
    unigram key is Zipf-skewed ('the' is everywhere) — per-w1 work is
    bounded by that word's DISTINCT continuations (<= vocab), not its
    occurrences; salting the handful of hot head words is the manual
    fallback at 100 TB.  No collect; count tables stay distributed (a
    corpus-scale vocabulary cannot broadcast).

    r15 shape fix (guide §2.4): ``cd`` fed both the model build and the
    score-back join, and the model build consumed ``c2`` twice (once
    directly, once through the unigram re-aggregation) — the
    explode+shuffle subtree executed THREE times per run
    (3 Generate nodes, zero runtime reuse).  Now ``cd`` is materialized
    once (localCheckpoint, the ranged_blocks precedent — it is the
    pipeline's already-reduced count table) and the unigram divisor
    comes from a window sum over ``c2`` partitioned by w1 (same int64
    value as the dropped c1-join — sum(c2) group-by w1 — so p is
    bit-identical).
    Interleaved A/B at sf0.1: 2.08 -> 1.52 s (0.73x), results exact."""
    # materialize the split ONCE: the explode child references toks at
    # four leaf positions, and higher-order expressions are interpreted
    # (no codegen CSE) — without the named column the text is re-split
    # per reference (measured 3.9s -> 1.5s at sf0.1)
    base = docs.select(F.col(id_col), tokens_col(text_col).alias("_toks"))
    toks = F.col("_toks")
    # sequence(1, 0) yields a DESCENDING [1, 0], not empty — guard the
    # <2-token docs explicitly so they emit no bigram rows
    idx = F.when(
        F.size(toks) > 1, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(toks, i).alias("w1"),
                    F.element_at(toks, i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    cd = (
        pairs.groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("cd"))
        .transform(_mat)
    )
    c2 = cd.groupBy("w1", "w2").agg(F.sum("cd").alias("c2"))
    score = c2.select(
        "w1",
        "w2",
        F.expr(f"c2 * {scale}").alias("_num"),
        F.sum("c2").over(Window.partitionBy("w1")).alias("_den"),
    ).select("w1", "w2", F.expr("_num div _den").alias("p"))
    return (
        cd.join(score, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("cd").alias("n_bigrams"),
            F.expr("sum(cd * p) div sum(cd)").alias("lm_score"),
        )
    )
