"""Generate PLANS.md: audited physical-plan facts for the headline queries.

"`.explain("formatted")` the plan and iterate until it's the plan you'd
want" — this tool is the iterate loop's artifact: for each bench query (and
a few scale-critical extras) it records what matters at 100 TB: pushed
filters, pruned read schema, join strategy, shuffle count, whether the hot
path stays in whole-stage codegen, and top-k/window-limit usage.

AQE can plan a query differently from run to run (x87's shuffle count
flips between 15 and 16 with stage timing), so every query is audited
twice; where the two audits disagree it is audited four more times and
each varying count prints as its minimum with the observed range, e.g.
``15 (15–16)``.

Usage: python tools/plan_report.py [sf_dir]  (writes PLANS.md at repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPORT_QUERIES = [
    "q01_scan_count",
    "q02_projection",
    "q03_filter_conjunctive",
    "q06_tpch_q1",
    "q11_join_broadcast",
    "q12_tpch_q3",
    "q16_theta_join",
    "q18_asof_join",
    "q20_window_rank",
    "q22_window_frame",
    "q25_union_distinct",
    "x01_exact_dedup",
    "x02_minhash_lsh",
    "x02d_edit_distance_dedup",
    "x03_topk_cosine",
    "x03e_int8_ann",
    "x07_train_test_split",
    "x10_decontaminate",
    "x11_repetition_ratio",
    "x12_semantic_dedup",
    "x13_srp_lsh",
    "x14_sequence_pack",
    "x16_segment_dedup",
    "x17_token_budget",
    "x18_curriculum_order",
    "x19_stratified_sample",
    "x20_unigram_logprob",
    "x21_bm25_search",
    "x22_zorder_key",
    "x23_gapfill_locf",
    "x24_range_join",
    "x25_funnel",
    "x27_series_similarity",
    "x28_canonical_dedup",
    "x29_ngram_novelty",
    "x30_chunk_documents",
    "x31_label_centroids",
    "x32_prototype_selection",
    "x33_dsir_weights",
    "x34_sessionize",
    "x34b_sessionize_skewsafe",
    "x35_binary_metadata",
    "x35b_blob_inventory",
    "x36_ncm_classify",
    "x37_subword_tokenize",
    "x37b_subword_tokenize_arrow",
    "x12b_semantic_dedup_auto",
    "x13c_srp_lsh_auto",
    "x17b_subword_budget",
    "x14b_subword_pack",
    "x38_dup_spans",
    "x38b_dup_span_removal",
    "x39b_bpe_encode",
    "x40_bigram_lm_score",
    "x41_pq_adc",
    "x41b_pq_rerank",
    "x42_countmin",
    "x42b_cms_heavy_hitters",
    "x43_jl_project",
    "x44_bloom_probe",
    "x45_hist_quantiles",
    "x45b_equidepth_stats",
    "x46_knn_graph",
    "x46b_density_downsample",
    "x47_quality_blend",
    "x48_source_drift",
    "x49_overlap_matrix",
    "x50_semantic_decontam",
    "x51_dedup_yield",
    "x52_skew_profile",
    "x53_lsh_bucket_audit",
    "x54_temperature_mixture",
    "x55_quality_canonical_dedup",
    "x56_ivfpq_topk",
    "x56b_ivfpq_rerank",
    "x57_pack_boundaries",
    "x58_tokenizer_fertility",
    "x59_dim_truncation_recall",
    "x60_ivf_list_balance",
    "x61_lsh_quality_audit",
    "x62_filter_agreement",
    "x63_rejection_funnel",
    "x64_embedding_health",
    "x65_packing_forecast",
    "x66_vocab_growth",
    "x67_shard_balance",
    "x68_langid_mismatch",
    "x69_dedup_token_yield",
    "x70_mirror_matrix",
    "x71_banding_planner",
    "x72_oov_rate",
    "x73_containment_pairs",
    "x74_retention_cohorts",
    # r11-new operators
    "x73b_containment_production",
    "x75_lsh_preflight",
    "x76_stratified_eval_split",
    "x77_cluster_purity",
    "x78_collocation_lift",
    "x79_ngram_dup_curve",
    "x80_label_separation",
    "x81_neardup_pagerank",
    "x82_centrality_canonical",
    "x83_tfidf_keywords",
    "x84_source_vocabulary",
    "x85_event_transitions",
    "x86_pair_arrival_curve",
    "x87_rfm_segments",
    "x88_value_percentiles",
    # r12-new operators
    "x89_type_share_drift",
    "x90_session_percentiles",
    "x91_purchase_interarrival",
    "x92_revenue_concentration",
    "x93_doclen_percentiles",
    "x94_copurchase_affinity",
    "x95_weekly_revenue",
    "x96_dup_quality_interaction",
    "x97_funnel_rates",
    "x98_event_path_trigrams",
    # r13-new operators
    "x94b_copurchase_capped",
    "x99_user_type_diversity",
    "x100_fulfillment_latency",
    "x101_segment_loyalty",
    "x102_peak_hours",
    "x103_source_lang_matrix",
    "x104_nation_trade_balance",
    "x105_conversion_latency",
    "x106_supplier_concentration",
    "x107_weekly_active_users",
    "x108_source_dup_rate",
    "x109_part_type_revenue_mix",
    "x110_session_depth",
    "x111_engagement_concentration",
    "x112_revenue_spikes",
    "x113_catalog_turnover",
    # r14-new operators
    "x46c_knn_graph_auto",
    "x114_discount_band_revenue",
    "x115_customer_order_gaps",
    "x116_returns_by_nation",
    "x117_order_size_histogram",
    "x118_hourly_seasonality",
    "x119_source_charclass_profile",
    "x120_acctbal_percentiles",
    "x121_brand_price_spread",
    "x122_prefix_dup_rate",
    "x123_head_coverage",
    "x124_embedding_dim_stats",
    "x125_user_lifespan",
    "x126_priority_status_matrix",
    "t04_order_priority",
    "t05_local_supplier_volume",
    "t08_market_share",
    "t10_returned_items",
    "t13_customer_distribution",
    "t17_small_quantity_revenue",
    "t18_large_volume_customer",
    "t19_discounted_revenue",
    "t21_waiting_supplier",
    "t22_sales_opportunity",
]


def _audit(spark, fn, sf_dir: str):
    """One executed-plan audit of ``fn``, summed over its executions."""
    from cubefs_hadoop_spark.plans.audit import audit_run, combine

    spark.catalog.clearCache()
    return combine(audit_run(spark, lambda: fn(spark, sf_dir).collect()))


def _cells(a) -> tuple:
    """The table-row facts of one audit: counts stay ints so repeated
    audits can be reduced by :func:`_stable`."""
    pushed = sum(
        0 if f in ("[]", "") else len(f.strip("[]").split(","))
        for f in a.pushed_filters
    )
    topk = []
    if a.has_take_ordered:
        topk.append("TakeOrdered")
    if a.has_window_group_limit:
        topk.append("WindowGroupLimit")
    return (
        a.broadcast_joins,
        a.sort_merge_joins,
        a.nested_loop_joins,
        a.shuffles,
        pushed,
        len({c for s in a.scan_columns() for c in s}),
        "y" if a.has_codegen else "n",
        "+".join(topk) or "—",
        "y" if a.has_python_eval else "—",
    )


def _stable(vals) -> str:
    """One fact across repeated audits: the value if all agree; for a
    count, the minimum with the observed range; else every value seen."""
    lo, hi = min(vals), max(vals)
    if lo == hi:
        return str(lo)
    if isinstance(lo, int):
        return f"{lo} ({lo}–{hi})"
    return "/".join(sorted(set(vals)))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.session import get_spark

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python tools/plan_report.py {sf_dir}`.",
        "Facts extracted with `plans/audit.py` (the same parser the",
        "plan-quality test gate uses, tests/test_plan_quality.py) from every",
        "SQL execution the query ran — construction-time actions and eager",
        "barriers included — as Spark's SQL status store recorded them; each",
        "row sums its query's executions.  Each query is audited twice; a",
        "count the audits disagree on prints as `min (lo–hi)` over six.",
        "",
        "| query | joins (BHJ/SMJ/NLJ) | shuffles | pushed filters | scan cols | codegen | top-k / window-limit | python |",
        "|---|---|---|---|---|---|---|---|",
    ]
    details: list[str] = []
    for name in REPORT_QUERIES:
        audits = [_audit(spark, QUERIES[name], sf_dir) for _ in range(2)]
        if _cells(audits[0]) != _cells(audits[1]):
            audits += [_audit(spark, QUERIES[name], sf_dir) for _ in range(4)]
        cells = [
            _stable(vals) for vals in zip(*(_cells(a) for a in audits))
        ]
        joins = "/".join(cells[:3])
        lines.append(f"| {name} | {joins} | " + " | ".join(cells[3:]) + " |")
        # per-query detail: the scan lines that prove pushdown/pruning
        a = audits[0]
        det = [f"### {name}", "```"]
        det += dict.fromkeys(f"PushedFilters: {f}" for f in a.pushed_filters)
        det += dict.fromkeys(f"ReadSchema: {rs}" for rs in a.read_schemas)
        det.append("```")
        details.append("\n".join(det))

    lines += [
        "",
        "Column key: *joins* counts BroadcastHashJoin / SortMergeJoin /",
        "nested-loop (BroadcastNestedLoop+Cartesian — only the declared",
        "theta/cross shapes may be nonzero); *shuffles* counts Exchange",
        "nodes; *pushed filters* counts predicates reaching the parquet",
        "scan; *scan cols* counts columns actually read (pruning); *python*",
        "flags Arrow/BatchEvalPython stages (only UDF-surface queries).",
        "",
        "## Scan details (pushdown + pruning evidence)",
        "",
        *details,
        "",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
