"""Benchmark harness: times every registry id at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test tables) on local[$SPARK_GRAFT_CPUS] and prints
two JSON lines: the full detail (also written to BENCH_DETAIL.json),
then a compact final line {"metric": ..., "value": N, "unit": "sec",
"top50": {...}, ...} short enough to survive a tail capture of stdout.

Each id is timed by one rule (`time_query`): construct + execute, where
execution is a noop-format write, so the full distributed plan (scan ->
shuffle -> agg) runs without driver-collect overhead.  `value` is the
construct + execute total; `value_construct` and `value_execute` split it.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family — scan/agg, joins (shuffle,
# broadcast, asof), windows, top-k, set ops, scalar suites, parse pipeline
# and LLM-data ops.  The list is append-only, so a subtotal over its
# first ids keeps comparing like-for-like with older runs.
HEADLINE = [
    "q1_pricing_summary",
    "join_inner",
    "join_broadcast",
    "join_asof",
    "agg_metrics",
    "agg_rollup",
    "agg_distinct",
    "win_rank",
    "win_running_sum",
    "sort_limit_topk",
    "setop_except",
    "fn_string_suite",
    "fn_array",
    "parse_full_entry",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_topk",
    "sim_ivf_topk",
    "text_stats",
    "stream_session",
    "agg_stats",
    "udf_grouped_map",
    "multimodal_decode",
    "parse_scaled",
    "dedup_components",
    "sim_srp_lsh",
    "text_tfidf",
    "topk_per_group",
    "sessionize_events",
    "funnel_steps",
    "retention_cohort",
    "timeseries_fill",
    "timeseries_anomaly",
    "text_quality_gopher",
    "text_repetition",
    "embed_quantize_sq8",
    "sim_pq_adc",
    "text_decontaminate",
    "corpus_vocab",
    "quality_decile_by_lang",
    "dedup_canonical",
    "sample_topp",
    "pack_sequences",
    "sample_temperature",
    "seq_match",
    "multimodal_resize",
    "text_lm_score",
    "chunk_docs",
    "training_prepare",
    "text_boilerplate",
    "embed_label_purity",
    "corpus_merge",
    "multimodal_frames",
    "agg_sum_map",
    "win_ntile",
    "timeseries_ewma",
    "freq_heavy_hitters",
    "dedup_semantic",
    "corpus_overlap",
    "curation_pipeline",
    "stream_dedup",
    "agg_mode",
    "fn_url_suite",
    "dedup_substring",
    "graph_pagerank",
    "timeseries_ohlc",
    "dedup_cluster_stats",
    "agg_quantile_hist",
    "text_oov_rate",
    "join_null_safe",
    "agg_bool",
    "timeseries_gaps",
    "cdc_latest_wins",
    "sim_hardneg",
    "split_leakage_check",
    "agg_ttest",
    "agg_entropy",
    "fn_variant",
    "agg_regr",
    "fn_hash_suite",
    "udtf_sentences",
    "agg_skew_kurt",
    "agg_bitmap_distinct",
    "win_cume_dist",
    "tpch_q3_shipping",
    "tpch_q5_nation_volume",
    "tpch_q6_revenue_delta",
    "tpch_q10_returns",
    "tpch_q18_big_orders",
    "agg_hll_distinct",
    "agg_argmax",
    "pivot_wide",
    "fn_ip_suite",
    "chat_assemble",
    "pref_pairs",
    "rollup_incremental",
    "agg_cond_suite",
    "graph_triangles",
    "text_pmi_pairs",
    "sketch_kmv_overlap",
    "cdc_scd2",
    "attribution_last_touch",
    "dedup_bloom_probe",
    "agg_quantile_weighted",
    "agg_hll_sliding",
    "join_scd2_pointintime",
    "tpch_q4_priority",
    "tpch_q14_promo",
    "tpch_q17_small_qty",
    "tpch_q22_global_sales",
    "timeseries_mad",
    "timeseries_islands",
    "multimodal_phash",
    "multimodal_audio_fp",
    "agg_hll_native",
    "sample_kcenter",
    "quality_benford",
    "fn_array2_suite",
    "win_pct_of_total",
    "fn_try_suite",
    "join_interval_bucketed",
    "setop_bag_ops",
    "win_running_distinct",
    "tpch_q2_min_cost",
    "tpch_q11_important_stock",
    "tpch_q15_top_supplier",
    "funnel_strict_order",
    "topk_weighted",
    "agg_uniq_upto",
    "quantile_timing",
    "shuffle_epoch",
    "curation_domain_stats",
    "seq_count",
    "agg_minmax_map",
    "sample_dsir",
    "fn_encoding_suite",
    "cdc_upsert_apply",
    "sim_ivf_recall",
    "win_moving_avg",
    "join_asof_tolerance",
    "tpch_q13_cust_distribution",
    "tpch_q16_supplier_cnt",
    "tpch_q21_waiting_supplier",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q19_discounted_revenue",
    "tpch_q20_dominant_supplier",
    "funnel_strict_dedup",
    "timeseries_rate",
    "timeseries_twa",
    "tpch_q12_shipmode",
    "interval_max_concurrent",
    "interval_length_sum",
    "seq_next_node",
    "timeseries_lttb",
    "agg_mannwhitney",
    "agg_assoc_suite",
    "timeseries_decay",
    "seq_match_window",
    "skew_key_histogram",
    "funnel_steps_capped",
    "timeseries_lttb_exact",
]

# Comparability marker: everything above is the original 164-id
# headline set; bench output reports its subtotal separately
# (value_headline164) so runs keep comparing like-for-like with runs
# that timed only that set.
_HEADLINE_164 = len(HEADLINE)

# The remaining 85 registry ids, so a regression in any of them
# (dedup_edit_distance, join_skew_salted, dedup_simhash,
# multimodal_audio, the parse and scalar suites) shows in the bench
# gate.  HEADLINE covers the full 249-id registry; the list stays
# append-only.
HEADLINE += [
    "agg_approx_distinct", "agg_corr", "agg_cube", "agg_grouping_sets", "agg_percentile",
    "agg_pivot", "join_anti", "join_cross", "join_full_outer", "join_left",
    "join_range", "join_semi", "win_first_last", "win_lag", "win_percent_rank",
    "win_range_frame", "sql_cte", "sql_in_subquery", "sql_scalar_subquery", "setop_intersect",
    "setop_union", "filter_pushdown", "fn_bitwise", "fn_conditional", "fn_date_suite2",
    "fn_decimal", "fn_explode", "fn_json_roundtrip", "fn_string_suite2", "doc_fingerprint",
    "multimodal_audio", "corpus_prepare", "udf_pandas_demo", "fn_generators", "fn_null_columns",
    "fn_safe_cast", "fn_sql_scrub", "text_lang_id", "text_token_bpe", "xform_filename_date",
    "sample_stratified", "trending_topk", "unpivot_stack", "text_pii_scrub", "parse_header_positional",
    "parse_kv_map", "parse_sql_quoted", "parse_context", "xform_event_time", "xform_duration",
    "filter_valid_rows", "records_explode", "fn_date_suite", "fn_cast_suite", "fn_json",
    "fn_map", "stream_interval_join", "sql_lateral", "stream_tumbling", "stream_sliding",
    "route_group_by_key", "agg_by_day", "dedup_simhash", "sim_neardup", "dedup_edit_distance",
    "scan_glob", "fn_string_clean", "parse_record_split", "xform_project_sink", "sink_insert_schema",
    "sort_time", "agg_histogram", "agg_approx_percentile", "agg_collect", "agg_min_max_by",
    "setop_union_by_name", "xform_zorder_key", "join_skew_salted", "sql_recursive_cte", "fn_math_suite",
    "fn_regexp_suite", "split_assign", "scan_csv", "scan_jsonl", "scan_orc",
]


# A caller that keeps only the tail of stdout clips a long line's HEAD,
# which then fails to parse; the final line must stay shorter than this.
FINAL_LINE_MAX = 2048


def time_query(spark, fn, sf_dir: str) -> tuple[float, float]:
    """Time one registry id -> (construct_s, execute_s).

    The one timing rule, the same as perfbench/registry.py::run_pass:
    start the timer, build the DataFrame, take a split time, run a
    noop-format write, stop.  Construction is charged because it can run
    Spark jobs of its own (table loads, count gates, fits, checkpoints).
    """
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def bench_detail(
    construct: dict[str, float],
    execute: dict[str, float],
    canary_sec: float,
    sf: float | None,
) -> dict:
    """The BENCH_DETAIL.json object: per-id construct + execute in
    `queries` (what tools/bench_compare.py reads), each phase in its own
    map, and their totals."""
    totals = {n: construct[n] + execute[n] for n in construct}
    # like-for-like subtotal over the first 164 ids, the headline set
    # before HEADLINE grew to the full registry
    head164 = set(HEADLINE[:_HEADLINE_164])
    return {
        "metric": "headline_queries_total_wall",
        "value": round(sum(totals.values()), 4),
        "value_construct": round(sum(construct.values()), 4),
        "value_execute": round(sum(execute.values()), 4),
        "value_headline164": round(
            sum(t for n, t in totals.items() if n in head164), 4
        ),
        "canary_sec": canary_sec,
        "unit": "sec",
        "queries": {n: round(t, 4) for n, t in totals.items()},
        "construct": {n: round(t, 4) for n, t in construct.items()},
        "execute": {n: round(t, 4) for n, t in execute.items()},
        "sf": sf,
    }


def final_line(detail: dict) -> str:
    """The compact last stdout line: the totals plus construct + execute
    of the 50 heaviest ids, under FINAL_LINE_MAX bytes."""
    queries = detail["queries"]
    top = sorted(queries, key=queries.get, reverse=True)[:50]
    line = json.dumps(
        {
            **{
                k: v
                for k, v in detail.items()
                if k not in ("queries", "construct", "execute")
            },
            "n_queries": len(queries),
            "queries_detail": "BENCH_DETAIL.json",
            "top50": {n: round(queries[n], 3) for n in top},
        },
        separators=(",", ":"),
    )
    assert len(line) < FINAL_LINE_MAX, f"final line is {len(line)} bytes"
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from logpump_spark.session import get_spark

    import __spark_entry__ as se

    spark = get_spark("bench")
    queries = se.queries()
    names = [n for n in HEADLINE if n in queries]

    # JVM/codegen warmup on a trivial plan so q1 doesn't pay startup costs
    spark.range(1000).selectExpr("sum(id)").collect()

    # Calibration canary: a FIXED pure-engine workload, independent of
    # any repo code or input data, timed before the query loop.
    # Concurrent machine load inflates every per-id wall uniformly; the
    # canary separates that from a code change (BASELINE.md "Canary
    # normalization").  Median of 3 so a single scheduler hiccup can't
    # poison the calibration itself.
    def _canary_once() -> float:
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "sum(id * 3 + 7) as s", "count(if(id % 97 = 0, 1, null)) as c"
        ).collect()
        return time.perf_counter() - t0

    _canary_once()  # its own warmup
    canary_sec = round(sorted(_canary_once() for _ in range(3))[1], 4)

    # Per-query JIT warmup at the smallest SF: whole-stage codegen emits
    # the same generated classes regardless of data size, so one tiny run
    # lets C2 compile the hot methods (the parse plane's generated
    # projection is huge; untamed, its first execution pays a 5-20x
    # compile-storm penalty that has nothing to do with the engine).
    # The timed run below then measures steady-state throughput at sf_dir.
    # It relies on the codegen class cache holding every class of every
    # id (spark.sql.codegen.cache.maxEntries, set in session.get_spark):
    # all ids warm before the first is timed, so about 2,600 classes
    # separate an id's warm-up from its timed run, and a smaller cache
    # evicts the warmed class and the timed run compiles it again.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.abspath(warm_dir) != os.path.abspath(sf_dir):
        for name in names:
            try:
                queries[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # warmup is best-effort; the timed run decides

    construct: dict[str, float] = {}
    execute: dict[str, float] = {}
    for name in names:
        construct[name], execute[name] = time_query(spark, queries[name], sf_dir)
        # per-query isolation OUTSIDE the timed window: release py4j-held
        # broadcasts / localCheckpoint blocks and nudge both GCs, or
        # driver-heap bloat from prior queries inflates the tail of the
        # run by 3-10x
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    detail = bench_detail(construct, execute, canary_sec, sf)
    # The detail goes to a file AND is printed first; the LAST line is the
    # compact one.  A second copy is keyed on the session's parallelism,
    # so sweeps at several core counts keep each other's detail.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    cores = spark.sparkContext.defaultParallelism
    variant_path = detail_path.replace(".json", f"_c{cores}.json")
    for path in (detail_path, variant_path):
        try:
            with open(path, "w") as f:
                json.dump(detail, f, indent=1, sort_keys=True)
        except OSError:
            pass  # detail files are best-effort; stdout lines are the contract
    print(json.dumps(detail))
    sys.stdout.flush()
    print(final_line(detail))


if __name__ == "__main__":
    main()
