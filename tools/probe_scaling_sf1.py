#!/usr/bin/env python
"""Parallel-scaling probe: the top-20 bench-head queries at sf1,
timed at the core count given by ``$SPARK_GRAFT_CPUS`` (VERDICT r13
item 2).

At sf0.1 the bench head is scheduler/overhead-bound — the driver's own
8-core run matched its 32-core run — so sf0.1 cannot show whether the
r13/r14 structural wins parallelize. This probe times the same query
shapes against the sf1 dataset (tools/gen_scale_sf1*.py: 10× facts,
documents and embeddings with matched statistics; dimensions deliberately
NOT scaled — the realistic regime), where per-query work is large enough
for core count to matter.

Methodology: bench.py's — noop sink, one cold save, best-of-3 warm saves.
Run once with SPARK_GRAFT_CPUS=32 and once with SPARK_GRAFT_CPUS=8 in
separate processes; the per-query 32c/8c speedups go to SCALE.md.

Usage:
    SPARK_GRAFT_CPUS=32 python tools/probe_scaling_sf1.py > /tmp/scale32.json
    SPARK_GRAFT_CPUS=8  python tools/probe_scaling_sf1.py > /tmp/scale8.json
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_datawarehouse_spark.plans import registry  # noqa: E402
from realtime_datawarehouse_spark.session import CPUS, build_session  # noqa: E402

SF1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scale_data",
    "sf1",
)

# The 20 most expensive bench-head queries in the r14 opening bench
# (BENCH_r14 baseline, OPTIMIZATION_r14.md), spanning every heavy family:
# pair-stage dedup, composed curation, TPC-H joins/aggs, window sweeps,
# graph iteration, corpus LM text ops.
TOP20 = (
    "dedup_jaccard_prefix",
    "pipeline_corpus_curation_v2",
    "a5_sku_order_count_distinct",
    "dedup_semantic_probed",
    "olap_max_concurrent_intervals",
    "pipeline_corpus_curation_v3",
    "text_dsir_weights",
    "tpch_q1_pricing_summary",
    "curate_cross_source_leakage",
    "dedup_minhash_eval",
    "a6_money_sums_coalesced",
    "pipeline_corpus_curation_v4",
    "j5_five_table_mixed_join",
    "ann_mmr_diversify",
    "tpch_q3_shipping_priority",
    "dedup_ngram_jaccard",
    "text_dup_ngram_coverage",
    "dedup_incremental_batch",
    "graph_pagerank",
    "text_bigram_logprob",
)


def main() -> None:
    spark = build_session(app_name=f"rdw-scale-sf1-{CPUS}c")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.get_queries()
    out: dict = {
        "cpus": CPUS,
        "sf": 1,
        "queries": {},
        "cold_queries": {},
    }
    for name in TOP20:
        spark.sparkContext.setJobDescription(f"scale-sf1 {CPUS}c: {name}")
        df = queries[name](spark, SF1)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out["cold_queries"][name] = round(time.perf_counter() - t0, 3)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out["queries"][name] = round(best, 3)
        print(f"# {name}: {out['queries'][name]}", file=sys.stderr)
    out["total"] = round(sum(out["queries"].values()), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
