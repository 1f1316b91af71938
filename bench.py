"""Benchmark harness (driver contract + BASELINE.md §2 protocol).

Runs the headline query set at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], 4 timed runs per query (run 1 warms the JVM/page
cache and is discarded; median of the remaining 3 reported — a 2-sample
median is just a mean, which let one noisy sample inflate x02/t21 in the
r03 record; see BASELINE.md), and prints ONE JSON line:

    {"metric": "bench_total_sec", "value": N, "unit": "sec",
     "queries": {...}, "sf": 0.1, "cpus": 32}

and writes the same object to BENCH_out_c{cpus}_sf{sf}.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# BASELINE.md bench set (B01-B55): grown each round so the newest
# scale-path operators get per-round regression tracking; every name
# here has a first-measurement baseline row in BASELINE.md.
BENCH_QUERIES = [
    "q01_scan_count",
    "q03_filter_conjunctive",
    "q06_tpch_q1",
    "q11_join_broadcast",
    "q12_tpch_q3",
    "q20_window_rank",
    "q22_window_frame",
    "q25_union_distinct",
    "x01_exact_dedup",
    "x03_topk_cosine",
    "t05_local_supplier_volume",
    "t18_large_volume_customer",
    "t13_customer_distribution",
    "t21_waiting_supplier",
    "x02_minhash_lsh",
    "x02d_edit_distance_dedup",
    "x03e_int8_ann",
    "s13_dedup_watermark_twin",
    "x16_segment_dedup",
    "x21_bm25_search",
    "x28_canonical_dedup",
    "x34_sessionize",
    "x33_dsir_weights",
    "x13_srp_lsh",
    "x12_semantic_dedup",
    "x29_ngram_novelty",
    "x39_bpe_train",
    "x41b_pq_rerank",
    "x40_bigram_lm_score",
    "x46_knn_graph",
    # r8 additions (VERDICT r7 item 6): the round-7 observability/
    # curation heavies — eager-barrier pipelines whose honest cost is
    # construction+collect, which is exactly what this loop times
    "x47_quality_blend",
    "x49_overlap_matrix",
    "x50_semantic_decontam",
    # r8-new heavies: quality-canonical election and the IVFADC-R
    # serving path (both eager-pipeline; construction+collect timing)
    "x55_quality_canonical_dedup",
    "x56b_ivfpq_rerank",
    # r9 (VERDICT r8 item 5): the PRODUCTION auto-sized semantic-dedup
    # and SRP-LSH configs join the regression set — B24/B25 above track
    # the pinned oracle twins (27x sf1 ratios no user should run) and
    # are annotated oracle-twin-only in BASELINE.md
    "x12b_semantic_dedup_auto",
    "x13c_srp_lsh_auto",
    # r9-new operators: fertility audit (Arrow tier), width-recall
    # audit, IVF balance audit, batched BPE trainer, filter agreement,
    # LSH quality audit (eager construction+collect timing, like x28)
    "x58_tokenizer_fertility",
    "x59_dim_truncation_recall",
    "x60_ivf_list_balance",
    "x39c_bpe_train_batched",
    "x62_filter_agreement",
    "x61_lsh_quality_audit",
    # r10-new audit family: corpus-scan audits (x63/x65/x66/x67/x68),
    # the vector-table pre-flight (x64), and the token-mass dedup
    # yield (x69 — full LSH+CC pipeline, construction+collect timing)
    "x63_rejection_funnel",
    "x64_embedding_health",
    "x65_packing_forecast",
    "x66_vocab_growth",
    "x67_shard_balance",
    "x68_langid_mismatch",
    "x69_dedup_token_yield",
    # r10 part 2: mirror matrix (pair-frame rollup), banding planner
    # (sample-bounded S-curve sweep), OOV split audit
    "x70_mirror_matrix",
    "x71_banding_planner",
    "x72_oov_rate",
    "x73_containment_pairs",
    "x74_retention_cohorts",
    # r11-new: the composed preflight (must bench ~1x the single shared
    # join, not 3x — VERDICT r10 #3), the production-floor containment
    # variant, and the three new audits (split balance, cluster purity,
    # collocations)
    "x75_lsh_preflight",
    "x73b_containment_production",
    "x76_stratified_eval_split",
    "x77_cluster_purity",
    "x78_collocation_lift",
    # r11 late additions (separate single-protocol baselines B61/B62)
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
    # r12 additions (first-measurement baselines B71-B75)
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
    # r13 additions (first-measurement baselines B81-B88): the capped
    # co-purchase production twin and the x99-x105 analytics family
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
    # r14 additions
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
]

RUNS = 4

# Self-adjudication (VERDICT r13 item 1): any row whose protocol median
# exceeds ADJUDICATE_RATIO x its BASELINE.md record is re-run
# ADJUDICATE_RUNS more times immediately and the median of those runs
# replaces the first measurement.  This executes the "3-execution
# idle-box re-measure" protocol at measure time, so a transiently loaded
# box can no longer park rows in the 1.5-1.8x ambient-suspect band for a
# whole round (the r11-r13 loop).
ADJUDICATE_RATIO = 1.4
ADJUDICATE_RUNS = 3

# Symmetric adjudication (VERDICT r14 "What's wrong" #2): min() over
# protocol medians is a downward-biased statistic — it forgives slow
# rows but never re-examines suspiciously FAST ones, so a lucky-fast
# sample could be kept as-is.  Rows whose protocol median lands BELOW
# baseline/ADJUDICATE_RATIO are therefore re-run too, and their recorded
# value is the MAX over protocol medians (the conservative direction for
# a fast row — a genuine optimization simply confirms itself).  Raw
# sample lists are kept in the artifact for every adjudicated row, plus
# a median-of-all-samples, so a regression hidden by min() stays visible
# (ADVICE r14, bench.py:275).

# End-of-run adjudication (r14): the immediate rerun above cannot dodge a
# host-side load burst that outlasts it (this box shows multi-minute
# load-average spikes with zero local processes; both r14 bench artifacts
# had one row parked >2x by a burst that also ate its 3 immediate
# reruns).  After the full pass, any row STILL above the gate is
# re-measured once more — behind a BOUNDED wait for the 1-min load to
# subside so the rerun samples the computation, not the interference.
# The recorded value stays min() over all protocol medians; every sample
# set (first, median3, final3) is kept in the artifact.  The wait budget
# is global and small so the driver's lower-core bench run cannot stall.
FINAL_IDLE_LOAD = 2.0
FINAL_WAIT_BUDGET_S = 180.0


def load_baselines(repo_dir: str) -> dict[str, float]:
    """Parse BASELINE.md's operative bench table: `| Bnn | name | sec | note |`.

    The operative table is the first one in the file (the historical r1
    table further down repeats names) — keep the FIRST occurrence per
    query name.
    """
    import re

    baselines: dict[str, float] = {}
    path = os.path.join(repo_dir, "BASELINE.md")
    row = re.compile(r"^\|\s*B\d+\s*\|\s*(\w+)[^|]*\|\s*([0-9.]+)\s*\|")
    try:
        with open(path) as f:
            for line in f:
                m = row.match(line)
                if m and m.group(1) not in baselines:
                    baselines[m.group(1)] = float(m.group(2))
    except OSError:
        pass
    return baselines


def time_query(spark, fn, sf_dir: str, label: str) -> float:
    """Wall seconds of one ``fn(spark, sf_dir).collect()``, its Spark
    jobs described as ``label`` — the timed action of bench.py and the
    profiling tools.  Any DataFrame cache a prior sample materialized
    (x02's band table) is dropped first: each sample must pay the full
    pipeline, not a cache hit — Spark's CacheManager matches analyzed
    plans across the structurally-identical per-run DataFrames."""
    spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    fn(spark, sf_dir).collect()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    baselines = load_baselines(repo_dir)
    load_start = os.getloadavg()[0]

    timings: dict[str, float] = {}
    adjudicated: dict[str, dict] = {}
    raw_samples: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        samples = [
            time_query(spark, fn, sf_dir, f"bench:{name}#{i}")
            for i in range(RUNS)
        ]
        raw_samples[name] = [round(s, 3) for s in samples]
        first = round(statistics.median(samples[1:]), 3)
        timings[name] = first
        base = baselines.get(name)
        if not base or ADJUDICATE_RATIO * base >= first > base / ADJUDICATE_RATIO:
            continue
        # let the protocol runs' async cleanup (shuffle/file GC
        # threads) settle before re-measuring — the rerun exists to
        # REMOVE ambient noise, not to sample the bench's own wake
        time.sleep(2)
        rerun = [
            time_query(spark, fn, sf_dir, f"bench:{name}#adj{i}")
            for i in range(ADJUDICATE_RUNS)
        ]
        raw_samples[name] += [round(s, 3) for s in rerun]
        med = round(statistics.median(rerun), 3)
        adjudicated[name] = {
            "first": first,
            "median3": med,
            "baseline": base,
            "load_1min": round(os.getloadavg()[0], 2),
        }
        if first > ADJUDICATE_RATIO * base:  # slow: forgive bursts
            timings[name] = min(first, med)
        else:  # suspiciously fast: conservative direction is up
            timings[name] = max(first, med)

    # end-of-run adjudication: see the FINAL_* constants' comment
    budget = FINAL_WAIT_BUDGET_S
    for name in BENCH_QUERIES:
        base = baselines.get(name)
        if not base or timings[name] <= ADJUDICATE_RATIO * base:
            continue
        while os.getloadavg()[0] > FINAL_IDLE_LOAD and budget > 0:
            time.sleep(5)
            budget -= 5
        rerun = [
            time_query(spark, QUERIES[name], sf_dir, f"bench:{name}#final{i}")
            for i in range(ADJUDICATE_RUNS)
        ]
        raw_samples[name] += [round(s, 3) for s in rerun]
        med = round(statistics.median(rerun), 3)
        rec = adjudicated.setdefault(
            name, {"first": timings[name], "baseline": base}
        )
        rec["final3"] = med
        rec["load_1min_final"] = round(os.getloadavg()[0], 2)
        timings[name] = min(timings[name], med)

    # every adjudicated row carries its raw samples + a median over ALL
    # of them (warm-up included), so the min()/max() protocol value can
    # always be cross-checked against an unbiased statistic
    for name, rec in adjudicated.items():
        rec["samples"] = raw_samples[name]
        rec["median_all"] = round(statistics.median(raw_samples[name]), 3)

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    out = {
        "metric": "bench_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "load_1min_start": round(load_start, 2),
        "load_1min_end": round(os.getloadavg()[0], 2),
        "adjudicated": adjudicated,
    }
    line = json.dumps(out)
    print(line)
    # also persist the full object: the driver captures only a stdout
    # tail, which truncated BENCH_r11.json past parseability (VERDICT
    # r11 item 5) — the file artifact is always complete.  Stamped with
    # cpus and sf so runs at other core counts or scales keep their own.
    out_path = os.path.join(repo_dir, f"BENCH_out_c{out['cpus']}_sf{sf:g}.json")
    with open(out_path, "w") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
