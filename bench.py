#!/usr/bin/env python
"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default: the cores
this process may run on) and prints:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "cold_total": <sec>,
     "cold_queries": {name: sec, ...}, "sf": <sf>,
     "floor_regressions": {name: warm / floor, ...}}

``floor_regressions`` (sf0.1 only) lists every warm query over twice its
``BENCH_FLOOR.json`` entry.

Execution is measured with the noop sink — full plan execution (scan →
shuffle → aggregate) without driver-side collection cost, which is the
number that scales to a real cluster.

Each query runs cold once, then warm: the cold execution pays one-time
planning / codegen / Python-worker startup; the best warm execution (of
three, or five under a second) is the steady-state cost — the number that
matters for a long-running warehouse where a plan is compiled once and
executed per micro-batch. ``value`` is the warm total; cold timings are
reported alongside in ``cold_queries``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from realtime_datawarehouse_spark.plans import registry  # noqa: E402
from realtime_datawarehouse_spark.session import build_session  # noqa: E402

# Headline set: one per operator family that dominates cost at scale.
BENCH_QUERIES = (
    "tpch_q1_pricing_summary",      # scan-heavy multi-metric aggregation
    "tpch_q3_shipping_priority",    # selective 3-table join + grouped revenue
    "tpch_q5_local_supplier_volume",  # 6-table snowflake join
    "j1_order_detail_inner_join",   # fact-fact shuffle join
    "j5_five_table_mixed_join",     # multi-way broadcast + shuffle join
    "j7_dim_snowflake_enrich",      # broadcast dim chain
    "a5_sku_order_count_distinct",  # exact count-distinct
    "a6_money_sums_coalesced",      # left join + quantized sums
    "a2_tumble_multi_metric",       # windowed multi-metric agg
    "st2_daily_unique_visitor",     # window-function stateful op
    "st8_bounce_detection",         # lag/lead sessionization
    "u1_tokenize_explode_count",    # tokenize + explode + agg
    "dedup_minhash_lsh",            # shingle → signature → band join
    "dedup_ngram_jaccard",          # inverted-index similarity join
    "dedup_simhash",                # wide bit-vote aggregation
    "ann_brute_topk",               # vector fold scan + top-k window
    "ann_ivf_topk",                 # IVF probe-pruned ANN (scale path)
    "text_quality_score",           # per-doc array expressions
    "mm_decode_metadata",           # Arrow-batched mapInPandas
    # round-2 additions (floors recorded from their first r02 measurement)
    "tpch_q2_min_cost_supplier",    # window-min decorrelation + pair dedup
    "hh_top_parts_per_brand",       # two-level heavy hitters
    "ext_asof_join",                # union-merge as-of window
    "ext_hop_window",               # hopping multi-metric window
    "olap_window_functions",        # OVER-family single-pass window
    "text_unigram_logprob",         # corpus LM: explode + broadcast vocab
    "text_repetition_signals",      # explode + two-level bigram mode
    # round-3 additions (floors recorded from their first r03 measurement)
    "tpch_q8_market_share",         # 7-table broadcast snowflake + ratio agg
    "tpch_q21_waiting_supplier",    # decorrelated EXISTS/NOT-EXISTS pair
    "dedup_semantic",               # IVF assign + within-cluster pair join
    "curate_bloom_decontaminate",   # double broadcast semi-join membership
    "text_ngram_topk",              # explode + combined count + global top-k
    "olap_funnel_conversion",       # chain-of-mins behavioral funnel
    "olap_retention_cohorts",       # cohort x offset retention triangle
    "ext_hybrid_retrieval",         # lexical filter + cosine top-k rerank
    "pipeline_corpus_curation_v2",  # composed curation incl. semantic dedup
    # round-4 additions (floors recorded from their first r04 measurement)
    "text_cdc_chunks",              # content-defined chunk fold (per-row)
    "dedup_minhash_cdc",            # MinHash-LSH over CDC chunk sets
    "dedup_semantic_lsh",           # adaptive-plane LSH semantic dedup
    "pipeline_corpus_curation_v3",  # composed curation, near-linear form
    "olap_sessionize",              # gap sessionization (lag + running sum)
    "dedup_ngram_containment",      # asymmetric containment pairs
    "ann_pq_topk",                  # product-quantization ADC scan
    "ann_pq_rerank_topk",           # PQ shortlist + exact rerank
    # round-4 second-half additions
    "ann_knn_graph",                # multiprobe LSH kNN graph
    "text_dup_ngram_coverage",      # corpus-duplicated n-gram coverage
    "sk_cms_heavy_hitters",         # count-min sketch + broadcast probe
    "olap_sequence_match",          # journey regex pattern counting
    "olap_bitmap_uv_state",         # mergeable bitmap distinct state
    "text_shared_substring_runs",   # consecutive-dup-gram run fold
    # round-4 third-session additions
    "dedup_jaccard_prefix",         # PPJoin prefix-filtered exact Jaccard
    "graph_pagerank",               # iterative integer fixed-point PageRank
    "olap_ohlc_bars",               # min_by/max_by OHLC time-bars
    "text_bpe_merge_pairs",         # BPE merge-pair counting + top-k
    "text_dsir_weights",            # DSIR hashed-bigram importance scoring
    "olap_window_funnel",           # bounded-window funnel (lookahead windows + step join)
    "ext_bm25_topk",                # BM25 scorer + TakeOrdered top-k
    "graph_triangle_count",         # vertex-ordered wedge join
    "text_substring_dedup",         # ExactSubstr span removal + reassembly
    "ext_asof_forward_tol",         # forward as-of with tolerance
    "olap_ewma_user_value",         # per-key integer-recursion fold
    "mm_image_phash",               # Arrow-batched perceptual hash kernel
    # round-4 continuation additions
    "ext_scd2_point_in_time_join",  # union-merge PIT lookup (no range join)
    "olap_scd2_intervals",          # gaps-and-islands SCD2 build
    "ext_asof_nearest",             # bidirectional as-of + arbitration
    "graph_link_prediction",        # wedge join + anti-join + degree joins
    "text_winnowing_fingerprint",   # map-only sliding-min fingerprints
    "text_cooccur_pmi",             # double-counted explode + broadcast PMI
    "sk_kmv_distinct",              # bottom-k distinct sketch
    "olap_gini_concentration",      # ranked integer Gini per nation
    "dedup_minhash_eval",           # LSH-vs-exact full-outer audit
    "ann_mmr_diversify",            # greedy MMR re-rank (constant/query)
    "mm_phash_near_dup_pairs",      # banded Hamming pair join
    "olap_growth_accounting",       # DAU lifecycle decomposition
    "curate_cross_source_leakage",  # LSH pairs × source rollup
    # round-4 fourth-wave additions
    "text_bigram_logprob",          # conditional bigram LM scoring
    "ext_interval_overlap_pairs",   # grid-bin interval overlap join
    "olap_max_concurrent_intervals",  # sweep-line interval concurrency
    "olap_abtest_cuped",            # CUPED variance-reduced readout
    "mm_content_sniff",             # JVM-only magic-byte routing
    # round-4 fifth/sixth-wave additions
    "olap_top_paths",               # session path pivot + top-k
    "olap_fifo_allocation",         # cumulative-range FIFO matching
    "olap_rolling_median_gmv",      # trailing-window exact median grid
    "olap_clamped_running_balance",  # reflection-identity running clamp
    "olap_active_time_union",       # interval-union sweep measure
    "olap_reconciliation_report",   # full-outer snapshot diff
    "olap_seasonal_decompose",      # trend/seasonal/residual split
    "olap_survival_km",             # Kaplan-Meier survival curve
    "ext_entity_resolution",        # fuzzy pairs → star CC entities
    "ann_ivf_balance_report",       # inverted-list balance audit
    # round-6 additions (floors recorded from their first r06 measurement)
    "dedup_semantic_probed",        # multiprobe LSH semantic dedup (recall dial)
    "dedup_incremental_batch",      # batch-vs-corpus broadcast LSH (ingest shape)
    "ann_range_search",             # similarity-floor retrieval (map-only)
    "embed_int8_quantize_eval",     # int8 storage audit (two map-side passes)
    # round-7 additions (floors recorded from their first r07 measurement)
    "ann_ivf_trained_recall_eval",  # trained-IVF recall audit vs brute truth
    "embed_pca_residual_eval",      # Rayleigh-quotient PCA audit
    "text_bpe_encode_roundtrip_eval",  # lossless+monotone BPE fold audit
    "text_compression_roundtrip_eval",  # zlib roundtrip Arrow kernel audit
    "mix_cluster_aware_split",      # exact-cluster leakage-free split
    "mix_cluster_aware_split_neardup",  # CC-cluster leakage-free split
    "curate_split_leakage_neardup",  # cross-split near-dup pair report
    "pipeline_corpus_curation_v4",  # full flow: v3 curation + leakage-free split
    # round-8 additions (floors recorded from their first r08 measurement).
    # mix_split_incremental_eval and ann_ivf_incremental_eval are
    # deliberately NOT here: their 4-ingest replays run eagerly at
    # query-BUILD time (store writes per step), so the timed noop save
    # would measure a few-row local DF — a misleading "cost". The loops'
    # honest numbers are the live measurements in SCALE.md §23/§29.
    "text_bpe_encode_vocab",        # broadcast-vocab greedy BPE apply kernel
    "dedup_incremental_pairs",      # per-ingest LSH pair increment
    # round-9 additions (floors recorded from their first r09 measurement).
    # text_bpe_train_scale_eval, pipeline_production_ingest_eval and
    # text_classifier_train_eval are deliberately NOT here: each runs its
    # real work eagerly at query-build time (in-process trainer collect /
    # 4-ingest store replay / GD iteration loop) and returns a local DF —
    # the same class as the r08 incremental evals. Honest numbers:
    # SCALE.md §30/§32/§33 and the composed loop's per-batch accounting
    # (production_ingest_step docstring).
    "text_bpe_vocab_scale_eval",    # fast-train@64 + vocab-encode corpus scan
    # round-11 additions: NONE. quality_refresh_eval and
    # bpe_vocab_refresh_eval are eager replay evals (multi-ingest store
    # writes + retrain at query-BUILD time, local DF returned) — the
    # same excluded class as the r08/r09 incremental evals; their honest
    # per-batch/refresh costs are the SCALE.md loop measurements.
    # round-12 additions: NONE. pipeline_production_ingest_v3_eval and
    # pipeline_loop_consistency_eval are eager replay evals (the same
    # excluded class); the 7-table loop's honest per-batch cost is the
    # SCALE.md §37-§39 sf1 probes.
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = build_session(app_name="rdw-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.get_queries()

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in BENCH_QUERIES:
        df = queries[name](spark, sf_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        cold[name] = round(time.perf_counter() - t0, 3)
        # steady-state = best of three warm executions (single measurements
        # carry ±10% scheduler/GC noise at these sub-second scales);
        # sub-second queries get best-of-FIVE — at those scales a single
        # GC pause spans the whole best-of-3 window and has repeatedly
        # produced one-off ~2× floor flags that a solo re-time then
        # cannot reproduce (SCALE.md §28: u1 r10, a5 r10, jaccard r10 —
        # VERDICT r10 item 5)
        best = float("inf")
        runs = 0
        while runs < 3 or (runs < 5 and best < 1.0):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            runs += 1
        warm[name] = round(best, 3)

    out = {
        "metric": "headline query wall time, steady-state (warm plan), "
        "noop sink, local mode",
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        "queries": warm,
        "cold_total": round(sum(cold.values()), 3),
        "cold_queries": cold,
        "sf": float(sf),
    }
    # regression guardrail: flag any warm query >2x its committed floor
    floor_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FLOOR.json"
    )
    if os.path.exists(floor_path) and float(sf) == 0.1:
        with open(floor_path, encoding="utf-8") as f:
            floor = json.load(f)["queries"]
        out["floor_regressions"] = {
            n: round(warm[n] / floor[n], 2)
            for n in warm
            if floor.get(n) and warm[n] > 2.0 * floor[n]
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
