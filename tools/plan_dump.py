"""Dump `.explain("formatted")` of named registry queries to files —
the before/after plan evidence for optimization rounds.

Run: python -m tools.plan_dump --out <dir> --suffix _before id1 id2 ...
(no ids = a default watch list).  Plans are captured at construction
time (AdaptiveSparkPlan isFinalPlan=false) at --sf, the same artifact
`df.explain("formatted")` prints; construction-time fits/detector jobs
run as they would for the driver.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_IDS = [
    "dedup_substring",
    "dedup_minhash_lsh",
    "corpus_overlap",
    "text_boilerplate",
    "text_pii_scrub",
    "curation_pipeline",
    "sim_ivf_topk",
    "sim_ivf_recall",
    "dedup_semantic",
    "sim_pq_adc",
    "sample_kcenter",
    "tpch_q9_product_profit",
    "tpch_q2_min_cost",
    "interval_max_concurrent",
    "funnel_steps_capped",
    "agg_corr",
    "timeseries_mad",
    "join_inner",
    "text_lm_score",
    "text_tfidf",
    "dedup_components",
    "graph_pagerank",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "text_stats",
    "corpus_prepare",
    "sim_srp_lsh",
    "sim_neardup",
    "split_leakage_check",
    "embed_label_purity",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ids", nargs="*", default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="_before")
    args = ap.parse_args()
    ids = args.ids or DEFAULT_IDS

    import __spark_entry__ as se
    from logpump_spark.session import get_spark

    spark = get_spark("plan_dump")
    spark.sparkContext.setLogLevel("ERROR")
    queries = se.queries()
    os.makedirs(args.out, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in ids:
        if name not in queries:
            print(f"skip {name}: not in registry")
            continue
        df = queries[name](spark, args.sf)
        text = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text.splitlines())} lines)")


if __name__ == "__main__":
    main()
