"""Physical-plan quality gates (the 100 TB story, asserted).

These tests never execute the queries — they check that Catalyst produced
the plan shape we designed for: dims broadcast (never sort-merge-joined),
filters pushed into the parquet scan, scans column-pruned, and hot paths
inside whole-stage codegen. The registry-wide guards (no row-at-a-time
Python, no explode of a stored array) run per query in
tests/test_correctness.py, which builds every registered query once.
"""

from __future__ import annotations

import pytest

from realtime_datawarehouse_spark.plans import registry
from tests.conftest import SF_DIR


def _explain(spark, name: str, mode: str = "formatted") -> str:
    df = registry.get_queries()[name](spark, SF_DIR)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


@pytest.mark.parametrize(
    "name", ["j3_lookup_join_dic", "j7_dim_snowflake_enrich", "j5_five_table_mixed_join"]
)
def test_dim_joins_are_broadcast(spark, name):
    plan = _explain(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, f"{name} fell back to sort-merge:\n{plan}"


def test_fact_fact_join_shuffles_once(spark):
    # J1 shuffles both sides on the join key; no broadcast of a fact table
    plan = _explain(spark, "j1_order_detail_inner_join")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_filters_reach_parquet_scan(spark):
    plan = _explain(spark, "p3_etl_filter")
    scan = plan[plan.index("PushedFilters"):]
    assert "event_type" in scan[: scan.index("\n")] or "props" in scan[: scan.index("\n")], (
        f"filter not pushed to scan:\n{plan}"
    )


def test_q1_scan_is_column_pruned(spark):
    plan = _explain(spark, "tpch_q1_pricing_summary")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema, (
        f"scan reads unused columns: {read_schema}"
    )


def test_q1_stays_in_codegen(spark):
    # AQE shows codegen stage markers '*(n)' only in the FINAL plan, so
    # execute first (sf0.001 — trivial), then inspect the adaptive plan
    df = registry.get_queries()["tpch_q1_pricing_summary"](spark, SF_DIR)
    df.collect()  # finalize THIS Dataset's adaptive plan (a write would spawn its own)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "isFinalPlan=true" in plan and "*(" in plan, plan


def test_mapinpandas_is_arrow_batched(spark):
    plan = _explain(spark, "mm_decode_metadata", mode="simple")
    assert "MapInPandas" in plan


def test_q3_filters_pushed_and_dim_broadcast(spark):
    plan = _explain(spark, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    # both date filters must reach their parquet scans
    assert plan.count("PushedFilters: [IsNotNull") >= 2
    assert "GreaterThan(l_shipdate" in plan and "LessThan(o_orderdate" in plan


def test_q5_snowflake_all_dims_broadcast(spark):
    plan = _explain(spark, "tpch_q5_local_supplier_volume")
    # region→nation→supplier chain + customer: every dim side broadcast;
    # the only shuffle joins the two fact tables
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_semi_and_anti_joins_use_semi_anti_physical(spark):
    """J10/J11: EXISTS/NOT-EXISTS shapes must compile to real LeftSemi /
    LeftAnti joins (probe side never widens, right side deduplicates in the
    join itself) — not an inner join + distinct."""
    plan = _explain(spark, "tpch_q4_order_priority")
    assert "LeftSemi" in plan, plan
    assert "Distinct" not in plan
    plan = _explain(spark, "j11_anti_join_never_ordered")
    assert "LeftAnti" in plan, plan


def test_top_n_is_take_ordered_not_global_sort(spark):
    """Q10: global top-k must plan as TakeOrderedAndProject (per-partition
    local top-k, k×partitions merge) — a full global Sort would shuffle
    every group at 100 TB."""
    plan = _explain(spark, "tpch_q10_top_returners")
    assert "TakeOrderedAndProject" in plan, plan


def test_sketch_accuracy_bounds(spark):
    """Sketch layer contracts: HLL++ daily UV within 5×rsd of the exact
    distinct count; GK p50/p90/p99 within rank-accuracy of the exact
    quantiles; heavy_hitters exactly equals the brute-force top-k."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.plans import registry
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR

    registry.load()
    # HLL vs exact, per day
    ev = table(spark, SF_DIR, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("dt"), "user_id"
    )
    exact = {
        r.dt: r.c
        for r in ev.groupBy("dt")
        .agg(F.countDistinct("user_id").alias("c"))
        .collect()
    }
    approx = {
        r.dt: r.approx_distinct
        for r in registry.QUERIES["sk_hll_daily_uv"](spark, SF_DIR).collect()
    }
    assert approx.keys() == exact.keys()
    for dt, e in exact.items():
        assert abs(approx[dt] - e) <= max(2.0, 5 * 0.02 * e), (dt, e, approx[dt])

    # GK quantiles vs exact per priority (fixture groups are small enough
    # that accuracy=10k makes GK exact — assert equality to the true ranks)
    got = {
        r.priority: [r.p50, r.p90, r.p99]
        for r in registry.QUERIES["sk_quantile_order_value"](
            spark, SF_DIR
        ).collect()
    }
    import numpy as np

    o = table(spark, SF_DIR, "orders").select("o_orderpriority", "o_totalprice")
    pdf = o.toPandas()
    for prio, qs in got.items():
        vals = np.sort(
            pdf[pdf.o_orderpriority == prio].o_totalprice.to_numpy()
        )
        for q, g in zip([0.5, 0.9, 0.99], qs):
            # GK returns an element of the group at rank within 1/accuracy
            idx = min(int(np.ceil(q * len(vals))) - 1, len(vals) - 1)
            lo, hi = max(0, idx - 1), min(len(vals) - 1, idx + 1)
            assert vals[lo] <= g <= vals[hi], (prio, q, g, vals[idx])


def test_sketch_pinned_oracles(spark):
    """VERDICT r03 #4: the sketch queries' driver oracles are pinned VALUES
    literals at the driver's contract scale (sf0.01). Re-derive both from a
    fresh Spark run at sf0.01 — if this fails, the engine's sketch output
    moved and the pins in plans/sketch_agg.py must be regenerated (print
    the new rows from this test's locals)."""
    from realtime_datawarehouse_spark.plans import registry, sketch_agg

    registry.load()
    sf001 = "/root/testdata/sf0.01"
    got_h = [
        (r.dt, r.approx_distinct)
        for r in registry.QUERIES["sk_hll_daily_uv"](spark, sf001)
        .orderBy("dt")
        .collect()
    ]
    assert got_h == sketch_agg.HLL_PINNED_SF001

    got_q = [
        (r.priority, r.p50, r.p90, r.p99)
        for r in registry.QUERIES["sk_quantile_order_value"](spark, sf001)
        .orderBy("priority")
        .collect()
    ]
    assert got_q == sketch_agg.GK_PINNED_SF001


def test_round2_tpch_shapes_plan_gates(spark):
    """Physical-plan gates for the round-2 shape family: reducing joins
    stay broadcast (never sort-merge), EXISTS/NOT-IN compile to real
    semi/anti joins, and the pair-dedup aggregates run AFTER the reducing
    broadcast joins (the distinct's exchange must not carry the full
    lineitem projection)."""
    plan = _explain(spark, "tpch_q2_min_cost_supplier")
    assert "LeftSemi" in plan and "SortMergeJoin" not in plan, plan

    plan = _explain(spark, "tpch_q16_supplier_cnt")
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan

    plan = _explain(spark, "tpch_q18_large_orders")
    assert "LeftSemi" in plan, plan

    plan = _explain(spark, "tpch_q22_dormant_customers")
    assert "LeftAnti" in plan, plan

    # date filters reach the parquet scan on the fact side
    for name in ("tpch_q12_priority_class", "tpch_q14_promo_revenue"):
        plan = _explain(spark, name)
        assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or (
            "GreaterThanOrEqual(l_shipdate" in plan
        ), (name, plan)
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, name

    # Q19's part-side disjuncts (brand ∈ {...}) imply a pushable filter
    plan = _explain(spark, "tpch_q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan, plan


def test_asof_join_edges(spark):
    """asof_join contract: inclusive at equal timestamps, NULL payloads
    before the first right row, latest-prior wins, single window exchange
    (no join node at all in the plan)."""
    from realtime_datawarehouse_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("u1", 5, "e1"), ("u1", 10, "e2"), ("u1", 1, "e0"), ("u2", 7, "e3")],
        "k string, t long, ev string",
    )
    right = spark.createDataFrame(
        [("u1", 5, "r5"), ("u1", 8, "r8"), ("u3", 1, "rX")],
        "k string, t long, val string",
    )
    got = {
        r.ev: r.val
        for r in asof_join(
            left, right, "k", "k", "t", "t", payload=["val"]
        ).collect()
    }
    assert got == {"e0": None, "e1": "r5", "e2": "r8", "e3": None}

    plan = (
        asof_join(left, right, "k", "k", "t", "t", payload=["val"])
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
    )
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan

    # NULL payload fields must come from the MATCHED right row — a NULL in
    # the latest right row must not back-fill from an older right row
    # (payload travels as one struct, not per-column last(ignorenulls))
    right2 = spark.createDataFrame(
        [("u1", 2, "old", "A"), ("u1", 8, None, "B")],
        "k string, t long, val string, tag string",
    )
    got2 = {
        r.ev: (r.val, r.tag)
        for r in asof_join(
            left, right2, "k", "k", "t", "t", payload=["val", "tag"]
        ).collect()
    }
    assert got2["e2"] == (None, "B"), got2  # t=10 matches t=8 row wholesale
    assert got2["e1"] == ("old", "A"), got2  # t=5 matches t=2 row


def test_connected_components_transitivity(spark):
    """A chain a-b, b-c plus an isolated node: one 3-component labeled by
    its min, the isolate keeps itself — transitive closure, not just pair
    grouping."""
    from realtime_datawarehouse_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(1,), (2,), (3,), (9,)], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (7, 8)], "doc_a long, doc_b long"
    )  # 7-8 edge has no node rows: still labels itself consistently
    got = {
        r.doc_id: (r.component_id, r.is_keeper)
        for r in connected_components(nodes, pairs).collect()
    }
    assert got[1] == (1, 1) and got[2] == (1, 0) and got[3] == (1, 0)
    assert got[9] == (9, 1)


def test_round3_tpch_shapes_plan_gates(spark):
    """Round-3 family: Q8/Q9 broadcast every dim (one fact-fact shuffle
    pair max), Q20 compiles to a pure semi-join chain, Q21's EXISTS /
    NOT-EXISTS decorrelation runs ONE per-order aggregate — no correlated
    self-join re-scan of lineitem beyond the two planned reads."""
    for name in ("tpch_q8_market_share", "tpch_q9_product_profit"):
        plan = _explain(spark, name)
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
        # only the lineitem⋈orders join may shuffle
        assert plan.count("Exchange hashpartitioning") <= 3, (name, plan)

    plan = _explain(spark, "tpch_q11_important_stock")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan

    plan = _explain(spark, "tpch_q20_part_promotion")
    assert "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan

    # decorrelated: lineitem appears as the l1 filter scan + the per-order
    # aggregate scan — 5 scans total (l1, agg, orders, supplier, nation),
    # not the 6+ a correlated EXISTS/NOT-EXISTS pair would plan
    simple = _explain(spark, "tpch_q21_waiting_supplier", mode="simple")
    assert simple.count("FileScan parquet") <= 5, simple
    assert "LeftSemi" in simple, simple


def test_round3_llm_ops_plan_gates(spark):
    """SemDeDup's centroid assignment broadcasts (the corpus never
    shuffles for assignment); the Bloom bit set probes as broadcast
    semi-joins; ngram_topk's rank runs over the count table, never a
    global sort of the gram stream."""
    plan = _explain(spark, "dedup_semantic")
    assert "BroadcastHashJoin" in plan, plan

    plan = _explain(spark, "curate_bloom_decontaminate")
    assert plan.count("LeftSemi") >= 2, plan
    assert "SortMergeJoin" not in plan, plan

    plan = _explain(spark, "text_ngram_topk", mode="simple")
    # global top-k must be the distributed TakeOrderedAndProject over the
    # count table — never a single-partition sort of all distinct n-grams
    assert "HashAggregate" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_round3_operator_edges(spark):
    """Edge contracts for round-3 operators: chunking of empty/short docs,
    temperature sampling with a single source (rate caps at 1), funnel
    stages on users missing intermediate steps."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "", "s0"), (2, "one", "s0"), (3, "a b c d e", "s0")],
        "doc_id long, text string, source string",
    )
    # empty text → no chunks; short text → one short chunk starting at 1
    chunks = {
        (r.doc_id, r.chunk_start): (r.chunk_text, r.n_tokens)
        for r in textops.chunk_documents(docs, size=3, overlap=1).collect()
    }
    assert (1, 1) not in chunks
    assert chunks[(2, 1)] == ("one", 1)
    assert chunks[(3, 1)] == ("a b c", 3)
    assert chunks[(3, 3)] == ("c d e", 3)
    assert chunks[(3, 5)] == ("e", 1)

    # single source: budget >= corpus → keep-rate caps at 1, all rows kept
    kept = textops.temperature_sample(docs, budget_docs=10).count()
    assert kept == 3

    # funnel: click-before-view must not count as a conversion
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1, "click"),
            (2, "2024-01-01 11:00:00", 1, "view"),
            (3, "2024-01-01 09:00:00", 2, "view"),
            (4, "2024-01-01 09:30:00", 2, "click"),
            (5, "2024-01-01 09:45:00", 2, "purchase"),
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type")
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.mode("overwrite").parquet(d + "/events.parquet")
        from realtime_datawarehouse_spark.plans.analytic import (
            olap_funnel_conversion,
        )

        row = olap_funnel_conversion(spark, d).collect()[0]
    # user 1: click precedes first view -> no conversion; user 2 full chain
    assert (row.n_view, row.n_click_after, row.n_purchase_after) == (2, 1, 1)


def test_sampling_is_partitioning_invariant(spark):
    """Rerun-stability contract of the hash samplers: the kept set must
    not change under arbitrary repartitioning or row order (the property
    that makes incremental reruns and speculative retries safe)."""
    from realtime_datawarehouse_spark.operators import textops
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR

    docs = table(spark, SF_DIR, "documents")
    base = {
        r.doc_id
        for r in textops.temperature_sample(docs, budget_docs=120).collect()
    }
    shuffled = docs.repartition(7).sortWithinPartitions("source")
    again = {
        r.doc_id
        for r in textops.temperature_sample(shuffled, budget_docs=120).collect()
    }
    assert base == again

    b1 = {
        (r.doc_id, r.cum_tokens)
        for r in textops.token_budget_sample(docs).collect()
    }
    b2 = {
        (r.doc_id, r.cum_tokens)
        for r in textops.token_budget_sample(docs.repartition(5)).collect()
    }
    assert b1 == b2


def test_sessionize_matches_builtin_session_window(spark):
    """olap_sessionize's lag+cumsum construction must produce the identical
    session partition as Spark's builtin session_window (same half-open
    gap rule: an event exactly GAP after its predecessor starts a new
    session) — pins the operator to engine semantics, and transitively to
    the streaming session-window job (test_session_window_streaming_parity)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.plans import analytic
    from realtime_datawarehouse_spark.tables import table

    ours = {
        (r.user_id, r.session_start, r.n_events)
        for r in analytic.olap_sessionize(spark, SF_DIR)
        .select("user_id", "session_start", "n_events")
        .collect()
    }
    ev = table(spark, SF_DIR, "events")
    builtin = {
        (r.user_id, r.session_start, r.n_events)
        for r in ev.groupBy(
            F.session_window(
                "ts", f"{analytic.SESSION_GAP_S} seconds"
            ).alias("sw"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
        .collect()
    }
    assert ours == builtin


def test_new_r4_plan_gates(spark):
    """Plan shapes for the round-4 operators: sessionize reuses ONE
    user_id exchange for lag + running-sum + final agg; transitions'
    normalization window runs over the tiny count table; anomaly stats
    join broadcasts (no shuffle of the fact side); PQ ADC scoring joins
    the LUT as a broadcast."""
    p = _explain(spark, "olap_sessionize", "simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    p = _explain(spark, "olap_anomaly_outliers")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p, p
    p = _explain(spark, "ann_pq_topk")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p, p


@pytest.mark.parametrize(
    "name",
    [
        "olap_basket_lift",
        "olap_rfm_segmentation",
        "olap_timeseries_fill",
        "olap_histogram",
        "text_perplexity_buckets",
        "olap_abtest_ztest",
        "dedup_ngram_containment",
        "ann_pq_rerank_topk",
        "dedup_semantic_lsh",
        # (pipeline_corpus_curation_v3 excluded: its composed v1 stages
        # legitimately sort-merge doc-sized fact pairs — only its NEW
        # semantic stage is SMJ-free, covered by dedup_semantic_lsh here)
    ],
)
def test_round4_no_sort_merge_join(spark, name):
    """Every round-4 operator joins small sides by broadcast (thresholds,
    codebooks, LUTs, stats, spines) or pairs within an exploded key — a
    SortMergeJoin anywhere means a dim-sized side fell back to a data
    shuffle."""
    plan = _explain(spark, name, "simple")
    assert "SortMergeJoin" not in plan, plan


# ---------------------------------------------------------------------------
# Round-4 second-session additions
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    [
        "sk_cms_heavy_hitters",
        "olap_cusum_drift",
        "olap_sequence_match",
        "olap_incremental_gmv",
    ],
)
def test_r4b_no_sort_merge_join(spark, name):
    """CMS probes join a broadcast of ≤ d·w cells; the other three have no
    join wider than their single keyed aggregation — SortMergeJoin anywhere
    means a bounded side fell back to a data-sized shuffle."""
    plan = _explain(spark, name, "simple")
    assert "SortMergeJoin" not in plan, plan


def test_cms_overestimate_invariant(spark):
    """Count-min estimates can only overestimate (collisions add counts):
    est ≥ exact for every candidate, and the top-k surfacing is exact-count
    faithful on the fixture (small key domain → few collisions)."""
    rows = registry.get_queries()["sk_cms_heavy_hitters"](
        spark, SF_DIR
    ).collect()
    assert rows, "no heavy hitters"
    for r in rows:
        assert r.over_ct >= 0, r
        assert r.est_ct == r.exact_ct + r.over_ct


def test_knn_graph_structure_and_recall(spark):
    """Multiprobe kNN graph: every node has out-degree ≤ k with contiguous
    ranks, edge sims agree with exact cosine (spot recall vs the brute-force
    graph — multiprobe at Hamming-1 must recover a nontrivial share of true
    top-3 edges even in the fixture's weak-signal regime)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import similarity
    from realtime_datawarehouse_spark.tables import table

    emb = table(spark, SF_DIR, "embeddings")
    got = similarity.knn_graph(emb).collect()
    by_src = defaultdict(list)
    for r in got:
        by_src[r.vec_id].append(r)
    for src, edges in by_src.items():
        assert len(edges) <= similarity.KNN_K
        assert sorted(e.rnk for e in edges) == list(range(1, len(edges) + 1))
        sims = [e.sim for e in sorted(edges, key=lambda e: e.rnk)]
        assert sims == sorted(sims, reverse=True)
    # recall vs the exact graph (brute top-3 with every vector as a query)
    qs = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_topk(emb, qs, k=similarity.KNN_K).collect()
    }
    approx = {(r.vec_id, r.neighbor_id) for r in got}
    recall = len(exact & approx) / len(exact)
    # measured 0.123 at sf0.001 — ~3.5× the random-candidate baseline
    # (9 probed buckets / 256 ≈ 0.035) in the fixture's weak-signal regime
    # (top-3 cosines ≈ 0.4, where hyperplane agreement is barely > 1/2;
    # real near-dup corpora sit ≥ 0.9 where the same probe set recalls
    # ~0.9+). The floor guards the mechanism, not fixture luck.
    assert recall >= 0.08, f"multiprobe recall {recall:.3f} below floor"


def test_pagerank_checkpoint_every_is_value_identical(spark):
    """The checkpoint_every lineage cut (deep-iteration deployment knob,
    SCALE.md §19) must not change a single rank: same integer fixed-point
    values as the lazy unroll at a depth where the plans diverge."""
    from realtime_datawarehouse_spark.operators.graph import pagerank
    from realtime_datawarehouse_spark.plans.graph_ops import _ring_edges

    edges = _ring_edges(spark, SF_DIR)
    lazy = {
        r.node: r.rank_q for r in pagerank(edges, iters=5).collect()
    }
    cut = {
        r.node: r.rank_q
        for r in pagerank(edges, iters=5, checkpoint_every=1).collect()
    }
    assert lazy == cut


def test_semdedup_eval_recall_floors(spark):
    """dedup_semantic_eval (VERDICT.md r4 item 5): both blockings' pair
    sets are strict subsets of the exact truth (precision 1 by
    construction), and their recalls clear floors tied to the mechanism —
    k-means clustering recovers the within-cluster share of true pairs
    (measured 0.364 at sf0.001, 0.356 at sf0.01), and the adaptive-plane
    LSH recall tracks the hyperplane-collision law (1-θ/π)^planes, which
    at the fixture's weak-signal cosines (≈0.4-0.48 → θ≈60°) predicts
    (2/3)^planes ≈ 0.20/0.06 at sf0.001/sf0.01 — measured 0.091/0.051.
    Real near-dup corpora sit at cosine ≥0.9 where the same law gives
    ≥0.8; the floor guards the mechanism, not fixture luck."""
    rows = {
        r.method: r
        for r in registry.get_queries()["dedup_semantic_eval"](
            spark, SF_DIR
        ).collect()
    }
    assert set(rows) == {"ivf_kmeans", "lsh_adaptive"}
    for r in rows.values():
        assert 0 < r.found_pairs <= r.truth_pairs, r
    assert rows["ivf_kmeans"].recall6 >= 250_000
    assert rows["lsh_adaptive"].recall6 >= 40_000


def test_semdedup_eval_recall_on_planted_near_dups(spark):
    """ADVICE r5 #2: the fixture floor above encodes the WEAK-SIGNAL
    regime (cosine ≈0.4-0.48). This pins the audit in the regime real
    near-dup corpora live in: 128 planted pairs at cosine 0.981-0.995
    (orthogonalized noise, so each pair's cosine is exactly
    1/sqrt(1+eps²)), with the floor DERIVED from the hyperplane-collision
    law at the planted angles and the adaptive plane count — not from
    running the fixture once and writing the number down. Random 64-dim
    directions pair at cosine ≈0 (max |cos| over 32k pairs ≪ 0.9), so
    the planted pairs are exactly the ground truth."""
    import math

    import numpy as np

    from realtime_datawarehouse_spark.operators import similarity as sim

    emb, n_pairs, eps = _planted_emb(spark)

    out = {
        r.method: r
        for r in sim.semdedup_eval(emb, threshold=0.9).collect()
    }
    assert out["lsh_adaptive"].truth_pairs == n_pairs

    # replicate the adaptive-plane rule: smallest p with target·2^p ≥ n
    n = 2 * n_pairs
    planes = max(
        sim.SEM_LSH_MIN_PLANES,
        next(
            p
            for p in range(sim.SEM_LSH_MAX_PLANES + 1)
            if sim.SEM_LSH_TARGET_POP * (1 << p) >= n
        ),
    )
    cos = 1.0 / np.sqrt(1.0 + eps**2)
    law = float(np.mean((1.0 - np.arccos(cos) / math.pi) ** planes))
    measured = out["lsh_adaptive"].recall6 / 1e6
    # 4-sigma binomial slack over 128 independent pairs
    slack = 4.0 * math.sqrt(law * (1.0 - law) / n_pairs)
    assert measured >= law - slack, (measured, law, planes)
    assert measured >= 0.6, measured  # the ≥0.8-law regime, far from 0.05
    # a cosine-0.98+ pair almost always shares its nearest coarse centroid
    assert out["ivf_kmeans"].recall6 >= 700_000, out["ivf_kmeans"]


def _planted_emb(spark):
    import numpy as np

    from realtime_datawarehouse_spark.operators import similarity as sim

    rng = np.random.RandomState(7)
    n_pairs = 128
    base = rng.randn(n_pairs, sim.DIM)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    noise = rng.randn(n_pairs, sim.DIM)
    noise -= (noise * base).sum(axis=1, keepdims=True) * base
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    eps = rng.uniform(0.10, 0.20, size=n_pairs)
    vecs = np.concatenate([base, base + eps[:, None] * noise])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    return emb, n_pairs, eps


def test_semdedup_lsh_multiprobe_recall_lift(spark):
    """Multiprobe is the recall dial the LSH docstrings promise — this
    measures it against the collision law on the planted corpus. With
    plane count p=5 and q=1-θ/π per pair: probes=0 must equal the
    single-probe form exactly (same pair set); probes=1 must rescue
    single-split misses, recall ≥ P(≤1 split)=q^5+5q^4(1-q) minus 4σ
    (measured 0.992 vs law 0.98); more probes only add recall.
    Each planted dup has exactly one (smaller-id) partner, so recall =
    mean(is_dup) over the dup half."""
    import math

    import numpy as np

    from realtime_datawarehouse_spark.operators import similarity as sim

    emb, n_pairs, eps = _planted_emb(spark)

    from pyspark.sql import functions as F

    def recall(df):
        return (
            df.agg(F.sum("is_dup").alias("s")).collect()[0].s / n_pairs
        )

    base_rows = {
        (r.vec_id, r.cluster_id, r.is_dup)
        for r in sim.semdedup_lsh(emb, threshold=0.9).collect()
    }
    p0_rows = {
        (r.vec_id, r.cluster_id, r.is_dup)
        for r in sim.semdedup_lsh_probed(
            emb, threshold=0.9, probes=0
        ).collect()
    }
    assert p0_rows == base_rows  # probes=0 degenerates to the home bucket

    r1 = recall(sim.semdedup_lsh_probed(emb, threshold=0.9, probes=1))
    r4 = recall(sim.semdedup_lsh_probed(emb, threshold=0.9, probes=4))
    q = 1.0 - np.arccos(1.0 / np.sqrt(1.0 + eps**2)) / math.pi
    law_le1 = float(np.mean(q**5 + 5 * q**4 * (1 - q)))
    slack = 4.0 * math.sqrt(law_le1 * (1.0 - law_le1) / n_pairs)
    r0 = recall(sim.semdedup_lsh(emb, threshold=0.9))
    assert r1 >= law_le1 - slack, (r1, law_le1)
    assert r1 > r0 and r4 >= r1, (r0, r1, r4)


def test_cusum_finds_injected_mean_shift(spark, tmp_path):
    """A series with a clean mean shift (10/day for days 1-10, 50/day
    after) must put the max-|CUSUM| changepoint exactly at the shift
    boundary (day 10) — pinning the statistic's argmax semantics against
    an analytically solvable case."""
    import datetime

    rows = [
        (
            i,
            datetime.datetime(2024, 3, 1 + i, 12, 0, 0),
            1,
            "x",
            10.0 if i < 10 else 50.0,
            "{}",
        )
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = registry.get_queries()["olap_cusum_drift"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    assert out[0].changepoint_dt == "2024-03-10"  # day 10 (i=9)
    assert out[0].n_days == 20


def test_incremental_gmv_refresh_parity(spark, tmp_path):
    """Drives the REAL incremental materialized-view loop over the
    versioned table store: four arrival batches, each refresh reads the
    current aggregate state, merges only the touched days' partials, and
    commits. The final state must be indistinguishable from a full
    recompute — the algebra olap_incremental_gmv registers as a query."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.tables import table

    path = str(tmp_path / "mv_gmv_daily")
    o = table(spark, SF_DIR, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt"),
        (F.col("o_orderkey") % 4).alias("b"),
        F.floor(F.col("o_totalprice") * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("micros"),
    )
    for b in range(4):
        partial = (
            o.where(F.col("b") == b)
            .groupBy("dt")
            .agg(F.sum("micros").alias("d_micros"), F.count("*").alias("d_ct"))
        )
        cur = table_store.read_state(spark, path)
        if cur is None:
            merged = partial.select(
                "dt",
                F.col("d_micros").alias("micros"),
                F.col("d_ct").alias("order_ct"),
            )
        else:
            # refresh touches ONLY days present in the incoming batch
            merged = (
                partial.join(cur, "dt", "left")
                .select(
                    "dt",
                    (
                        F.coalesce(F.col("micros"), F.lit(0))
                        + F.col("d_micros")
                    ).alias("micros"),
                    (
                        F.coalesce(F.col("order_ct"), F.lit(0))
                        + F.col("d_ct")
                    ).alias("order_ct"),
                )
                .unionByName(cur.join(partial, "dt", "left_anti"))
            )
        table_store.commit(merged, path)
    got = {
        r.dt: (r.micros, r.order_ct)
        for r in table_store.read_state(spark, path).collect()
    }
    full = {
        r.dt: (r.micros, r.order_ct)
        for r in o.groupBy("dt")
        .agg(F.sum("micros").alias("micros"), F.count("*").alias("order_ct"))
        .collect()
    }
    assert got == full


@pytest.mark.parametrize(
    "name",
    [
        "olap_bitmap_uv_state",
        "olap_bitmap_audience_overlap",
        "olap_forecast_linear",
    ],
)
def test_r4b_bitmap_forecast_no_smj(spark, name):
    """Bitmap state rollups join only tiny per-type readouts (broadcast);
    the trend query joins nothing wider than its keyed aggregations."""
    plan = _explain(spark, name, "simple")
    assert "SortMergeJoin" not in plan, plan


def test_bitmap_uv_invariants(spark):
    """Bitmap set algebra sanity: merged distinct ≤ sum of daily distincts
    (equality only if no user appears on two days), and the overlap matrix
    is symmetric-complete (one row per unordered type pair)."""
    rows = registry.get_queries()["olap_bitmap_uv_state"](
        spark, SF_DIR
    ).collect()
    assert rows
    for r in rows:
        assert r.distinct_uv <= r.sum_daily_uv
        assert r.days_active >= 1
    ov = registry.get_queries()["olap_bitmap_audience_overlap"](
        spark, SF_DIR
    ).collect()
    types = {r.event_type for r in rows}
    assert len(ov) == len(types) * (len(types) - 1) // 2
    for r in ov:
        assert 0 <= r.overlap_uv <= r.union_uv


def test_forecast_recovers_injected_line(spark, tmp_path):
    """A perfectly linear daily series (cents = 10 + 2·i) must come back
    with slope exactly 2 cents/day and intercept exactly 10 cents — the
    integer power-sum formulation leaves no room for fit error."""
    import datetime

    rows = [
        (
            i,
            datetime.datetime(2024, 5, 1 + i, 9, 0, 0),
            1,
            "x",
            (10 + 2 * (i + 1)) / 100.0,  # i is 0-based; day index is 1-based
            "{}",
        )
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = registry.get_queries()["olap_forecast_linear"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    assert out[0].slope_cents_e4 == 20000  # 2.0000 cents/day
    assert out[0].intercept_cents_e2 == 1000  # 10.00 cents
    assert out[0].n_days == 20


def test_shared_substring_run_length_exact(spark, tmp_path):
    """Two documents sharing a verbatim 12-token span (and nothing else
    n-gram-sized) must both report max_shared_tokens == 12; an unrelated
    doc reports 0 — pinning the run⇔span arithmetic (L-token span ⇔ L−n+1
    consecutive duplicated n-grams)."""
    span = " ".join(f"w{i}" for i in range(12))
    rows = [
        (1, "alpha beta " + span + " gamma delta", "en", "s", 0),
        (2, "one two three " + span + " four five", "en", "s", 0),
        (3, "totally different words without overlap here at all", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in registry.get_queries()["text_shared_substring_runs"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[1].max_shared_tokens == 12
    assert out[2].max_shared_tokens == 12
    assert out[1].max_run_grams == 12 - 8 + 1
    assert out[3].max_shared_tokens == 0 and out[3].dup_gram_ct == 0


# ---------------------------------------------------------------------------
# Round-4 third-session additions
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    [
        "olap_ohlc_bars",
        "embed_dimension_stats",
        "text_bpe_merge_pairs",
        "text_quality_calibration",
        "text_dsir_weights",
        "dedup_jaccard_prefix",
        "graph_pagerank",
        "graph_triangle_count",
        "olap_window_funnel",
        "ext_bm25_topk",
        "ext_fuzzy_name_join",
        "graph_clustering_coeff",
        "graph_bfs_layers",
        "graph_doc_centrality",
        "olap_cohort_ltv",
        "olap_markov_transition_probs",
        "olap_gmv_waterfall",
        "text_substring_dedup",
        "text_ngram_novelty",
    ],
)
def test_r4c_no_sort_merge_join(spark, name):
    """None of these plans should sort anything to join: dim-sized sides
    (DSIR weight table) broadcast; corpus-scale joins (prefix-filter df
    annotation + verification, PageRank rank×edge) are hinted to
    shuffle-HASH join — same exchange, no sort phase on high-cardinality
    int64 keys."""
    plan = _explain(spark, name, "simple")
    assert "SortMergeJoin" not in plan, plan


def test_ohlc_single_aggregation_pass(spark):
    """OHLC bars must be ONE map-side-combinable aggregation: a single
    hash exchange on the bar key; min_by/max_by partials carry one
    (value, order-key) pair each — shuffle O(bars), not O(ticks)."""
    plan = _explain(spark, "olap_ohlc_bars", "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_min_by" in plan or "partial_min" in plan, plan


def test_embed_dim_stats_single_exchange(spark):
    """Per-dimension stats: the posexplode inflates rows DIM× but partial
    aggregation collapses them to DIM rows per task BEFORE the single
    hash exchange on dim."""
    plan = _explain(spark, "embed_dimension_stats", "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bpe_topk_is_take_ordered(spark):
    """Global top-k merge-pair selection must compile to
    TakeOrderedAndProject (per-partition heaps), never a global sort."""
    plan = _explain(spark, "text_bpe_merge_pairs", "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan, plan


def test_dsir_weight_table_broadcasts(spark):
    """The ≤4096-row log-ratio table must broadcast to the scorers —
    corpus rows never shuffle for the scoring join."""
    plan = _explain(spark, "text_dsir_weights", "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_pagerank_mass_conservation(spark):
    """Integer fixed-point PageRank: total mass can only shrink (floor
    losses), never grow, and stays within |edges|·iters + N units of the
    initial total; every rank is positive (base term guarantees it)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.plans.graph_ops import (
        PR_ITERS,
        _ring_edges,
        graph_pagerank,
    )
    from realtime_datawarehouse_spark.operators.graph import SCALE

    r = graph_pagerank(spark, SF_DIR)
    agg = r.agg(
        F.sum("rank_q").alias("total"), F.min("rank_q").alias("mn"),
        F.count("*").alias("n"),
    ).collect()[0]
    edges = _ring_edges(spark, SF_DIR).count()
    assert agg.mn > 0
    assert agg.total <= SCALE
    # floor loss ≤ 1 unit per edge per iteration + N initial-split units
    # + N base-term units per iteration
    assert agg.total >= SCALE - PR_ITERS * (edges + agg.n) - agg.n


def test_jaccard_prefix_matches_full_inverted_index(spark):
    """The prefix-filtered pair set must EQUAL the full inverted-index
    exact-Jaccard pair set (lossless pruning down to the rounded
    threshold) — the point of using τ_eff=15999/20000 for candidate
    generation."""
    from realtime_datawarehouse_spark.operators import dedup
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents")
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, 0.8).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.jaccard_prefix_filter_pairs(docs, 0.8).collect()
    }
    assert full == pref


def test_pca_matches_numpy_eigenvector(spark):
    """Power iteration must capture ≥97% of the exact top covariance
    eigenvalue's variance (the quantity that converges quadratically and
    the one whitening actually uses — this fixture's spectrum is nearly
    flat, λ2/λ1 ≈ 0.93, so the eigenVECTOR itself is ill-conditioned and
    only loosely pinned), stay within the exact eigenvalue from above,
    and return a unit-norm, sign-normalized direction aligned with the
    top eigenspace (|cos| ≥ 0.85)."""
    import numpy as np
    import pyarrow.parquet as pq

    from realtime_datawarehouse_spark.plans.registry import get_queries

    rows = (
        get_queries()["embed_pca_top_component"](spark, SF_DIR)
        .orderBy("dim")
        .collect()
    )
    v = np.array([r.loading for r in rows])
    eig = rows[0].eigval_cov
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    X = np.array([list(e) for e in t.column("embedding").to_pylist()])
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / len(Xc)
    w, V = np.linalg.eigh(cov)
    top = V[:, -1]
    assert eig >= 0.97 * w[-1]
    assert eig <= w[-1] * (1 + 1e-6)
    assert abs(float(v @ top) / np.linalg.norm(v)) >= 0.85
    assert abs(np.linalg.norm(v) - 1.0) < 1e-3
    assert v[int(np.argmax(np.abs(v)))] > 0


def test_bm25_topk_is_take_ordered(spark):
    """BM25's global top-k must compile to TakeOrderedAndProject; the df
    table and corpus stats must broadcast into the scorer."""
    plan = _explain(spark, "ext_bm25_topk", "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_jaccard_prefix_boundary_pairs(spark):
    """Hand-crafted corpus: an exact duplicate pair (J=1), a pair just
    ABOVE threshold (18 shared / 22 union ≈ 0.8182), and a pair BELOW
    (14 shared / 26 union ≈ 0.5385) — the prefix filter must keep the
    first two and drop the third, with exact jaccard values."""
    from realtime_datawarehouse_spark.operators import dedup

    w = [f"w{i:02d}" for i in range(40)]

    def text(idxs):
        return " ".join(w[i] for i in idxs)

    # 3-gram shingling of a k-token doc gives k-2 shingles; overlapping
    # token runs share shingles only inside the common run.
    base = list(range(22))          # 20 shingles
    above = list(range(2, 24))      # shares tokens 2..21 → 18 shared shingles
    below = list(range(6, 28))      # shares 6..21 → 14 shared shingles
    docs = spark.createDataFrame(
        [
            (1, text(base)),
            (2, text(base)),        # exact dup of 1
            (3, text(above)),
            (4, text(below)),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_prefix_filter_pairs(docs, 0.8).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, 0.8).collect()
    }
    assert got == full
    assert got[(1, 2)] == 1.0
    assert round(18 / 22, 4) == got[(1, 3)] == got[(2, 3)]
    assert (1, 4) not in got and (3, 4) not in got


def test_triangle_degree_ordered_equals_id_ordered(spark):
    """The degree-ordered orientation (hub-proof 100 TB form) must produce
    the identical per-vertex triangle counts as the id-ordered wedge join,
    with no SortMergeJoin in its plan."""
    from realtime_datawarehouse_spark.operators import graph
    from realtime_datawarehouse_spark.plans.graph_ops import TRI_SKIP, _ring_edges

    edges = _ring_edges(spark, SF_DIR, skip=TRI_SKIP)
    a = {(r.node, r.tri_ct) for r in graph.triangle_counts(edges).collect()}
    b = {
        (r.node, r.tri_ct)
        for r in graph.triangle_counts_degree_ordered(edges).collect()
    }
    assert a == b and len(a) > 0
    plan = graph.triangle_counts_degree_ordered(edges)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "SortMergeJoin" not in plan


def test_substring_dedup_injected_span(spark):
    """Inject a 12-token span shared verbatim by two docs among unique
    filler: exactly the span's tokens (plus any grams bridging into
    filler — none here, fillers differ) are removed from BOTH docs;
    a fully unique doc loses nothing."""
    from realtime_datawarehouse_spark.operators import textops

    span = " ".join(f"s{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"a0 a1 a2 a3 {span} a4 a5 a6 a7"),
            (2, f"b0 b1 b2 b3 {span} b4 b5 b6 b7"),
            (3, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.substring_dedup(docs).collect()}
    assert out[1].removed_tokens == 12
    assert out[1].clean_text == "a0 a1 a2 a3 a4 a5 a6 a7"
    assert out[2].clean_text == "b0 b1 b2 b3 b4 b5 b6 b7"
    assert out[3].removed_tokens == 0
    assert out[3].clean_text == "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"


def test_bpe_train_matches_reference(spark):
    """The distributed BPE trainer must reproduce a sequential reference
    implementation EXACTLY — same merges, same order, same counts (ties
    broken by count desc then lexicographic pair, greedy left-to-right
    non-overlapping application)."""
    from collections import Counter

    import pyarrow.parquet as pq

    from realtime_datawarehouse_spark.plans.registry import get_queries

    got = [
        (r.step, r.left, r.right, r.pair_ct)
        for r in get_queries()["text_bpe_train"](spark, SF_DIR)
        .orderBy("step")
        .collect()
    ]

    texts = pq.read_table(f"{SF_DIR}/documents.parquet").column(
        "text"
    ).to_pylist()
    wf = Counter()
    for t in texts:
        for w in t.lower().split():
            if w:
                wf[w] += 1
    vocab = {w: [c for c in w] for w in wf}
    want = []
    for step in range(1, 9):
        pc = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wf[w]
        if not pc:
            break
        (left, right), ct = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((step, left, right, ct))
        for w, syms in vocab.items():
            out, carry = [], None
            for s in syms:
                if carry == left and s == right:
                    out.append(left + right)
                    carry = None
                else:
                    if carry is not None:
                        out.append(carry)
                    carry = s
            if carry is not None:
                out.append(carry)
            vocab[w] = out
    assert got == want, (got, want)


def test_bpe_train_matches_rounds(spark):
    """VERDICT r8 item 1 parity pin: the in-process fast trainer
    (bpe_train — one Spark job, incremental pair-count merge loop) must
    reproduce the round-per-merge distributed form (bpe_train_rounds)
    EXACTLY at n ∈ {8, 32}: same merges, same order, same counts, same
    early-stop — on the fixture corpus and on adversarial corpora
    (ties, overlap chains like 'aaaa', multibyte symbols)."""
    from realtime_datawarehouse_spark.operators import textops
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents")

    def train(fn, d, n):
        return [
            (r.step, r.left, r.right, r.pair_ct)
            for r in fn(d, n).orderBy("step").collect()
        ]

    for n in (8, 32):
        fast = train(textops.bpe_train, docs, n)
        rounds = train(textops.bpe_train_rounds, docs, n)
        assert fast == rounds and len(fast) == n, (n, fast, rounds)

    adv = spark.createDataFrame(
        [(0, "aaa bbb aaa"), (1, "ababab cdcd"), (2, "ééé ßß x"), (3, "aaaa")],
        "doc_id long, text string",
    )
    for n in (4, 16):
        fast = train(textops.bpe_train, adv, n)
        rounds = train(textops.bpe_train_rounds, adv, n)
        assert fast == rounds, (n, fast, rounds)
    # early-stop parity: the adversarial vocab runs dry before 16 merges
    assert len(train(textops.bpe_train, adv, 16)) < 16


def test_bpe_train_word_cap_is_deterministic(spark):
    """The frequency cap keeps the collect bounded and deterministic:
    with max_words below the vocabulary size the trainer learns from the
    top-K words by (count desc, word) — same result on repeat runs, and
    equal to training on that exact sub-table."""
    from realtime_datawarehouse_spark.operators import textops

    docs = spark.createDataFrame(
        [(0, "foo foo foo bar bar baz qux qux qux qux")],
        "doc_id long, text string",
    )
    capped = [
        (r.step, r.left, r.right, r.pair_ct)
        for r in textops.bpe_train(docs, 4, max_words=2).orderBy("step").collect()
    ]
    # top-2 by (ct desc, word): qux (4), foo (3)
    sub = spark.createDataFrame(
        [(0, "qux qux qux qux foo foo foo")], "doc_id long, text string"
    )
    want = [
        (r.step, r.left, r.right, r.pair_ct)
        for r in textops.bpe_train(sub, 4).orderBy("step").collect()
    ]
    assert capped == want
    again = [
        (r.step, r.left, r.right, r.pair_ct)
        for r in textops.bpe_train(docs, 4, max_words=2).orderBy("step").collect()
    ]
    assert capped == again


def test_bpe_encode_matches_reference(spark):
    """Encoding under the trained merges must match the sequential
    reference: same merges (already pinned), same greedy application per
    word, summed per document; tokens_before is the character count of
    the whitespace tokens."""
    from collections import Counter

    import pyarrow.parquet as pq

    from realtime_datawarehouse_spark.plans.registry import get_queries

    got = {
        r.doc_id: (r.tokens_before, r.tokens_after)
        for r in get_queries()["text_bpe_encode"](spark, SF_DIR).collect()
    }

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    texts = dict(
        zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    )
    # retrain reference merges (identical to test_bpe_train's)
    wf = Counter()
    for txt in texts.values():
        for w in txt.lower().split():
            if w:
                wf[w] += 1
    vocab = {w: [c for c in w] for w in wf}
    merges = []
    for _ in range(8):
        pc = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wf[w]
        if not pc:
            break
        (left, right), _ct = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((left, right))
        for w, syms in vocab.items():
            out, carry = [], None
            for s in syms:
                if carry == left and s == right:
                    out.append(left + right)
                    carry = None
                else:
                    if carry is not None:
                        out.append(carry)
                    carry = s
            if carry is not None:
                out.append(carry)
            vocab[w] = out

    def enc_len(w):
        syms = [c for c in w]
        for left, right in merges:
            out, carry = [], None
            for s in syms:
                if carry == left and s == right:
                    out.append(left + right)
                    carry = None
                else:
                    if carry is not None:
                        out.append(carry)
                    carry = s
            if carry is not None:
                out.append(carry)
            syms = out
        return len(syms)

    for doc_id, txt in texts.items():
        ws = [w for w in txt.lower().split() if w]
        want_before = sum(len(w) for w in ws)
        want_after = sum(enc_len(w) for w in ws)
        assert got[doc_id] == (want_before, want_after), doc_id


def test_bigram_lm_model_broadcasts_and_bounded_scans(spark):
    """text_bigram_logprob: the ≤40-row bigram model and the scalar grand
    total must BROADCAST to the scorers (corpus rows never shuffle for the
    scoring join), and the corpus may be scanned at most 3× (score /
    model-build / total) — the context totals must come from a window over
    the counts aggregate, not a fourth corpus-scanning subtree."""
    plan = _explain(spark, "text_bigram_logprob", "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("documents.parquet") <= 3, plan
    assert "TakeOrderedAndProject(limit=40" in plan, plan


def test_concurrent_intervals_sweep_shares_partitioning(spark):
    """olap_max_concurrent_intervals: the sweep must be day-pre-aggregated
    boundary events (no interval self-join), and the daily aggregation,
    the running sum, the partition max, and the final peak-date
    aggregation must ALL run on one suppkey partitioning — exactly ONE
    hash exchange total since r14 (the explicit suppkey repartition
    satisfies the agg's clustered(suppkey, d) and both windows'
    clustered(suppkey); interleaved A/B 1.35–1.37 → 0.98–0.99 s,
    OPTIMIZATION_r14.md §5), no Exchange above the Window."""
    plan = _explain(spark, "olap_max_concurrent_intervals", "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan  # orderkey join broadcasts at
    # bench scale; at 100 TB AQE picks the shuffle join — the gate pins the
    # fixture-scale plan
    head, _, tail = plan.partition("Window")
    assert "Exchange" not in head, plan  # nothing reshuffles after the sweep


def test_star_cc_handles_extreme_diameter_chain(spark):
    """The large-star/small-star variant exists for long-chain graphs where
    min-label propagation needs O(diameter) rounds: a 64-node path must
    resolve to a single component (root 0) well inside the O(log² n) round
    budget, with isolated nodes labeling themselves."""
    from realtime_datawarehouse_spark.operators import dedup

    n = 64
    nodes = spark.createDataFrame(
        [(i,) for i in range(n + 2)], "doc_id long"  # +2 isolated nodes
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: (r.component_id, r.is_keeper)
        for r in dedup.connected_components_star(
            nodes, pairs, max_iters=12
        ).collect()
    }
    for i in range(n):
        assert got[i] == (0, 1 if i == 0 else 0), (i, got[i])
    for iso in (n, n + 1):
        assert got[iso] == (iso, 1), (iso, got[iso])


def test_shared_index_pair_sides_equal_direct_forms(spark):
    """The shared-shingle-index composition (r13: one inverted-index
    exchange feeds both the LSH and exact-Jaccard sides of
    dedup_minhash_eval) must produce row-identical results to the two
    direct forms it replaced."""
    from realtime_datawarehouse_spark.operators import dedup
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents")
    lsh_side, ex_side = dedup.lsh_vs_exact_pair_sides(docs, 0.8)
    direct_lsh = {
        (r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(docs).collect()
    }
    direct_ex = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, 0.8).collect()
    }
    assert {(r.doc_a, r.doc_b) for r in lsh_side.collect()} == direct_lsh
    assert {
        (r.doc_a, r.doc_b, r.jaccard) for r in ex_side.collect()
    } == direct_ex
    assert direct_lsh, "fixture must produce candidate pairs"


def test_star_cc_agrees_with_label_propagation(spark):
    """Both CC formulations must produce identical components over the
    same LSH pair set (the registered oracle pins each independently;
    this pins them against each other on the fixture)."""
    from realtime_datawarehouse_spark.operators import dedup
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents")
    pairs = dedup.lsh_candidate_pairs(docs)
    a = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(docs, pairs).collect()
    }
    b = {
        r.doc_id: r.component_id
        for r in dedup.connected_components_star(docs, pairs).collect()
    }
    assert a == b


def test_binned_overlap_equals_naive_quadratic(spark):
    """The grid-bin equi-join must count exactly the pairs the naive
    non-equi self-join counts — on a DENSE constructed interval set
    (including spans crossing bin boundaries, nested intervals, exact
    touch s == e, and multiple keys), since the parquet fixture is sparse
    at sf0.001."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.plans.warehouse_ext import (
        binned_overlap_pairs,
    )

    rows = []
    iid = 0
    for k in (1, 2, 3):
        for i in range(40):
            s = (i * 7 + k * 13) % 97
            rows.append((k, iid, s, s + 1 + (i * 5 + k) % 30))
            iid += 1
    iv = spark.createDataFrame(
        rows, "suppkey long, iid long, s long, e long"
    )
    got = {
        r.suppkey: r.overlap_pairs
        for r in binned_overlap_pairs(iv, bin_days=32).collect()
    }
    a, b = iv.alias("a"), iv.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.suppkey") == F.col("b.suppkey"))
            & (F.col("a.iid") < F.col("b.iid"))
            & (F.col("a.s") < F.col("b.e"))
            & (F.col("b.s") < F.col("a.e")),
        )
        .groupBy(F.col("a.suppkey").alias("suppkey"))
        .agg(F.count("*").alias("overlap_pairs"))
        .collect()
    )
    want = {r.suppkey: r.overlap_pairs for r in naive}
    assert got == want and sum(want.values()) > 100, (got, want)


def test_kcore_fixpoint_within_rounds(spark):
    """KCORE_ROUNDS is a fixed unroll shared by both engines — it must
    reach the peel fixpoint on the fixture (one extra round changes
    nothing), otherwise the registered result is an unconverged prefix."""
    from realtime_datawarehouse_spark.plans.graph_ops import (
        KCORE_ROUNDS,
        _copurchase_sym_edges,
        kcore_peel,
    )

    sym = _copurchase_sym_edges(spark, SF_DIR)
    at = {
        (r.u, r.core_deg)
        for r in kcore_peel(sym, rounds=KCORE_ROUNDS).collect()
    }
    beyond = {
        (r.u, r.core_deg)
        for r in kcore_peel(sym, rounds=KCORE_ROUNDS + 1).collect()
    }
    assert at == beyond and len(at) > 0


def test_kcore_cascade_on_constructed_graph(spark):
    """True cascade semantics pinned against a hand-computed case: a
    4-clique (survives k=3) with a pendant chain hung off it (the chain
    peels over MULTIPLE rounds — node by node from the far end) and an
    isolated triangle (peels entirely at k=3)."""
    from realtime_datawarehouse_spark.plans.graph_ops import kcore_peel

    und = (
        # 4-clique 1-2-3-4
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        # pendant chain 4-10-11-12 (each degree ≤2 → cascades off)
        + [(4, 10), (10, 11), (11, 12)]
        # triangle 20-21-22 (degree 2 each → all peel at k=3)
        + [(20, 21), (21, 22), (20, 22)]
    )
    sym = spark.createDataFrame(
        und + [(b, a) for a, b in und], "u long, v long"
    )
    got = {
        r.u: r.core_deg for r in kcore_peel(sym, k=3, rounds=6).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}, got


def test_content_sniff_stays_jvm_side(spark):
    """mm_content_sniff is the pre-filter that must NOT pay a Python
    worker: no MapInPandas/ArrowEvalPython anywhere — binary magic-byte
    checks compile into whole-stage codegen."""
    plan = _explain(spark, "mm_content_sniff", "simple")
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_top_paths_is_take_ordered(spark):
    """olap_top_paths: the global top-k over distinct paths must compile
    to TakeOrderedAndProject, and the step ranking must reuse the
    sessionize partitioning (windows only over user-prefixed keys)."""
    plan = _explain(spark, "olap_top_paths", "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_fifo_allocation_equals_sequential_walk(spark):
    """The cumulative-range overlap identity must reproduce a literal
    sequential FIFO walk (pointer simulation) — pinned on the fixture
    subset, independent of the oracle mirroring the same construction."""
    import collections

    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.plans.analytic import FIFO_PART_PRED
    from realtime_datawarehouse_spark.tables import table

    got = {
        (r.partkey, r.sale_id, r.lot_id): r.alloc_qty
        for r in registry.get_queries()["olap_fifo_allocation"](
            spark, SF_DIR
        ).collect()
    }

    rows = (
        table(spark, SF_DIR, "lineitem")
        .where(F.expr(FIFO_PART_PRED))
        .select(
            "l_partkey", "l_orderkey", "l_linenumber", "l_quantity",
            "l_returnflag", "l_shipdate",
        )
        .collect()
    )
    by_part = collections.defaultdict(lambda: {"A": [], "R": []})
    for r in rows:
        if r.l_returnflag in ("A", "R"):
            by_part[r.l_partkey][r.l_returnflag].append(r)
    want = {}
    for pk, sides in by_part.items():
        lots = sorted(
            sides["A"],
            key=lambda r: (r.l_shipdate, r.l_orderkey, r.l_linenumber),
        )
        sales = sorted(
            sides["R"],
            key=lambda r: (r.l_shipdate, r.l_orderkey, r.l_linenumber),
        )
        li, lot_left = 0, None
        for s in sales:
            need = int(s.l_quantity)
            sid = s.l_orderkey * 16 + s.l_linenumber
            while need > 0 and li < len(lots):
                if lot_left is None:
                    lot_left = int(lots[li].l_quantity)
                take = min(need, lot_left)
                lid = lots[li].l_orderkey * 16 + lots[li].l_linenumber
                want[(pk, sid, lid)] = want.get((pk, sid, lid), 0) + take
                need -= take
                lot_left -= take
                if lot_left == 0:
                    li, lot_left = li + 1, None
    assert got == want and len(want) > 50, (len(got), len(want))


def test_clamped_balance_equals_sequential_walk(spark):
    """The prefix − min(0, running-min) identity must reproduce a literal
    max(0, prev + delta) walk — the clamp recursion is non-associative,
    so this pin is what proves the window formulation correct
    (the oracle mirrors the same identity)."""
    import collections

    got = {
        (r.partkey, r.line_id): r.balance
        for r in registry.get_queries()["olap_clamped_running_balance"](
            spark, SF_DIR
        ).collect()
    }
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.plans.analytic import FIFO_PART_PRED
    from realtime_datawarehouse_spark.tables import table

    rows = (
        table(spark, SF_DIR, "lineitem")
        .where(F.expr(FIFO_PART_PRED) & F.col("l_returnflag").isin("A", "R"))
        .select(
            "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber",
            "l_quantity", "l_returnflag",
        )
        .collect()
    )
    seqs = collections.defaultdict(list)
    for r in rows:
        seqs[r.l_partkey].append(r)
    want = {}
    for pk, rs in seqs.items():
        bal = 0
        for r in sorted(
            rs, key=lambda x: (x.l_shipdate, x.l_orderkey, x.l_linenumber)
        ):
            delta = int(r.l_quantity) * (1 if r.l_returnflag == "A" else -1)
            bal = max(0, bal + delta)
            want[(pk, r.l_orderkey * 16 + r.l_linenumber)] = bal
    assert got == want and len(want) > 100


def test_coreness_fixpoint_and_matches_peeling(spark):
    """The fixed h-index unroll must (a) have converged (one more round
    changes nothing) and (b) equal the true core numbers from an
    independent Batagelj-style peel — on the fixture AND on a constructed
    clique+chain graph whose coreness values are known."""
    import collections

    from realtime_datawarehouse_spark.plans.graph_ops import (
        _copurchase_sym_edges,
    )

    def py_coreness(edges_sym):
        adj = collections.defaultdict(set)
        for u, v in edges_sym:
            adj[u].add(v)
        core = {u: len(s) for u, s in adj.items()}
        # iterative peel: repeatedly assign core = current min degree
        deg = dict(core)
        order = sorted(deg, key=lambda u: deg[u])
        removed = set()
        k = 0
        import heapq

        heap = [(d, u) for u, d in deg.items()]
        heapq.heapify(heap)
        while heap:
            d, u = heapq.heappop(heap)
            if u in removed or d > deg[u]:
                continue
            k = max(k, deg[u])
            core[u] = k
            removed.add(u)
            for v in adj[u]:
                if v not in removed:
                    deg[v] -= 1
                    heapq.heappush(heap, (deg[v], v))
        return core

    got = {
        r.partkey: r.coreness
        for r in registry.get_queries()["graph_coreness"](
            spark, SF_DIR
        ).collect()
    }
    edges = [
        (r.u, r.v) for r in _copurchase_sym_edges(spark, SF_DIR).collect()
    ]
    assert got == py_coreness(edges)

    # constructed case: 5-clique (coreness 4) + chain (coreness 1)
    und = [
        (a, b) for a in range(1, 6) for b in range(a + 1, 6)
    ] + [(5, 10), (10, 11), (11, 12)]
    sym = und + [(b, a) for a, b in und]
    want = py_coreness(sym)
    assert all(want[n] == 4 for n in range(1, 6))
    assert want[12] == 1


# --- companion-eval non-vacuity (VERDICT r6 item 2) ------------------------
# The five new *_eval queries hash-check pass-flags whose expected value the
# oracle states; these tests pin that each flag actually derives from the
# measured quantity (it flips when the audited computation is degraded), so
# the oracle rows are evidence, not tautology.


def test_ivf_trained_recall_eval_flag_is_measured(spark):
    from realtime_datawarehouse_spark.operators import similarity
    from realtime_datawarehouse_spark.tables import table

    emb = table(spark, SF_DIR, "embeddings")
    ok = similarity.ivf_trained_recall_eval(emb).collect()[0]
    assert ok.recall_ge_floor == 1 and ok.truth_rows == ok.n_queries * ok.k
    # an unreachable floor flips the verdict — the flag is computed from
    # the actual hit count, not stated
    hard = similarity.ivf_trained_recall_eval(emb, floor6=990_000).collect()[0]
    assert hard.recall_ge_floor == 0


def test_pca_residual_eval_flags_flip_without_training(spark):
    from realtime_datawarehouse_spark.operators import similarity
    from realtime_datawarehouse_spark.tables import table

    emb = table(spark, SF_DIR, "embeddings")
    ok = similarity.pca_residual_eval(emb).collect()[0]
    assert ok.rayleigh_ge_axis == 1 and ok.eig_consistent == 1
    # iters=0 returns the (centered, normalized) first corpus vector with
    # eigval 0 — an untrained direction must fail BOTH flags: its Rayleigh
    # quotient sits near trace/dim (below the best axis) and no positive
    # measured variance is consistent with eigval 0
    bad = similarity.pca_residual_eval(emb, iters=0).collect()[0]
    assert bad.rayleigh_ge_axis == 0 and bad.eig_consistent == 0
    assert bad.totvar4 == ok.totvar4  # exact columns don't depend on v


def test_bpe_eval_flags_are_measured(spark):
    from realtime_datawarehouse_spark.operators import textops
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents")
    ok = textops.bpe_encode_roundtrip_eval(docs).collect()[0]
    assert ok.n_roundtrip_ok == ok.n_docs == ok.n_monotone_ok
    assert ok.corpus_reduced == 1
    # zero merges → encoder is the identity segmentation: roundtrip still
    # holds but no compression can have happened
    none = textops.bpe_encode_roundtrip_eval(docs, n_merges=0).collect()[0]
    assert none.corpus_reduced == 0 and none.n_roundtrip_ok == none.n_docs


def test_compression_roundtrip_eval_counts_real_bytes(spark):
    from realtime_datawarehouse_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "café au lait"), (2, "plain ascii")], "doc_id long, text string"
    )
    row = textops.compression_roundtrip_eval(docs).collect()[0]
    assert row.n_docs == 2 == row.n_roundtrip_ok == row.n_bound_ok
    # é is 2 utf-8 octets: byte total exceeds character total by exactly 1
    assert row.total_raw_bytes == len("café au lait") + len("plain ascii") + 1


def test_cluster_aware_split_rescues_planted_duplicates(spark):
    """Non-vacuity for mix_cluster_aware_split (the driver fixture is
    exact-duplicate-free, so its n_rescued is legitimately 0): with
    planted duplicate clusters whose member ids hash into different
    splits, the naive per-doc split MUST straddle some cluster, the
    cluster-aware split must straddle none, and n_rescued must equal the
    straddle count the naive split would have admitted."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import textops

    # 40 distinct texts x 5 copies, ids scattered so copies hash apart
    rows = [
        (t * 1000 + c, f"document body number {t} repeated content")
        for t in range(40)
        for c in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # use eval-sized bounds so all three splits are populated at n=200
    bounds = (6_000, 8_000)

    per_doc = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        textops.split_expr(F.col("doc_id"), bounds).alias("naive"),
    ).collect()
    by_cluster: dict[str, set[str]] = {}
    for r in per_doc:
        by_cluster.setdefault(r.h, set()).add(r.naive)
    assert any(len(s) > 1 for s in by_cluster.values())  # naive straddles

    out = {
        r.split: r
        for r in textops.cluster_aware_split(docs, bounds=bounds).collect()
    }
    assert sum(r.n_docs for r in out.values()) == 200
    assert sum(r.n_clusters for r in out.values()) == 40
    # rescued == docs whose naive label differs from their cluster rep's
    rep = {
        h: min(r.doc_id for r in per_doc if r.h == h) for h in by_cluster
    }
    naive_of = {r.doc_id: r.naive for r in per_doc}
    want_rescued = sum(
        1
        for r in per_doc
        if r.naive != naive_of[rep[r.h]]
    )
    assert sum(r.n_rescued for r in out.values()) == want_rescued > 0
    # cluster-aware assignment never straddles: every cluster's docs all
    # carry the rep's label by construction AND the label is a function
    # of rep id alone — verified via the rescued arithmetic above plus
    # per-split cluster counts summing to the distinct-text total.


def test_split_leakage_neardup_matches_direct_recount(spark):
    """curate_split_leakage_neardup == a direct recount over the audited
    LSH pairs with per-id split labels (and the sf0.01 fixture has at
    least one genuine cross-split near-dup pair, so is_leak=1 rows are
    reachable — verified in-session; here the identity is pinned)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import dedup, textops
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR_MID

    docs = table(spark, SF_DIR_MID, "documents").select("doc_id", "text")
    pairs = dedup.lsh_candidate_pairs(docs).collect()
    assert pairs, "fixture must produce LSH candidate pairs"
    lab = lambda i: (  # noqa: E731
        "train" if h(i) < 9_800 else ("val" if h(i) < 9_900 else "test")
    )
    import hashlib

    def h(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 10_000

    want: dict[tuple[str, str], int] = {}
    for p in pairs:
        a, b = sorted((lab(p.doc_a), lab(p.doc_b)))
        want[(a, b)] = want.get((a, b), 0) + 1

    from realtime_datawarehouse_spark.plans import llm_ops

    got = {
        (r.split_lo, r.split_hi): (r.n_pairs, r.is_leak)
        for r in llm_ops.curate_split_leakage_neardup(
            spark, SF_DIR_MID
        ).collect()
    }
    assert {k: v[0] for k, v in got.items()} == want
    for (a, b), (_, leak) in got.items():
        assert leak == (1 if a != b else 0)


def test_neardup_cluster_split_closes_measured_leakage(spark):
    """mix_cluster_aware_split_neardup's contract: under the component
    assignment NO LSH candidate pair straddles two splits (the leakage
    curate_split_leakage_neardup measures under the naive split), and on
    the sf0.01 fixture the naive split DOES straddle at least one
    component — so n_rescued is measured, not vacuous."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import dedup, textops
    from realtime_datawarehouse_spark.plans import llm_ops
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR_MID

    docs = table(spark, SF_DIR_MID, "documents").select("doc_id", "text")
    pairs = dedup.lsh_candidate_pairs(docs)
    cc = dedup.connected_components(docs, pairs)
    comp = {r.doc_id: r.component_id for r in cc.collect()}
    naive = {
        r.doc_id: r.split
        for r in docs.select(
            "doc_id", textops.split_expr(F.col("doc_id")).alias("split")
        ).collect()
    }
    cluster = {d: naive[comp[d]] for d in comp}  # rep's label, rep id ∈ docs
    straddle_naive = straddle_cluster = 0
    for p in pairs.collect():
        straddle_naive += naive[p.doc_a] != naive[p.doc_b]
        straddle_cluster += cluster[p.doc_a] != cluster[p.doc_b]
    assert straddle_naive >= 1  # the fixture leaks under the naive split
    assert straddle_cluster == 0  # the component split never does
    out = llm_ops.mix_cluster_aware_split_neardup(
        spark, SF_DIR_MID
    ).collect()
    assert sum(r.n_rescued for r in out) == sum(
        1 for d in comp if cluster[d] != naive[d]
    ) >= 1


def test_apply_merge_string_form_parity(spark):
    """The regexp string form of merge application (round-7 rewrite of
    the encoders' hot path) must agree with the array fold on every
    adversarial shape: chains (abab), overlaps (aaa/aaaa), non-chaining
    context, regex metacharacters in symbols, multi-char merged symbols,
    and unicode."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import textops

    cases = [
        ("aaa", [("a", "a")]),
        ("aaaa", [("a", "a"), ("aa", "aa")]),
        ("abab", [("a", "b")]),
        ("xabay", [("a", "b")]),
        ("ababa", [("a", "b"), ("ab", "ab")]),
        ("a$b.c*", [("a", "$"), ("a$", "b")]),
        ("café", [("c", "a"), ("ca", "f")]),
        ("zzz", [("a", "b")]),  # merge absent from word
        ("ab", [("a", "b"), ("ab", "ab")]),  # second merge unmatchable
        ("\\x\\x", [("\\", "x"), ("\\x", "\\x")]),  # backslash symbols
    ]
    for word, merges in cases:
        one = spark.createDataFrame([(word,)], "w string")
        chars = F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        )
        sym_arr = chars
        sym_str = textops._sym_string(F.col("w"))
        for left, right in merges:
            sym_arr = textops._apply_merge(sym_arr, left, right)
            sym_str = textops._apply_merge_str(sym_str, left, right)
        row = one.select(
            sym_arr.alias("arr"),
            F.split(
                F.regexp_replace(
                    sym_str, f"^{textops._SYM_SEP}|{textops._SYM_SEP}$", ""
                ),
                textops._SYM_SEP,
            ).alias("via_str"),
            textops._sym_token_count(sym_str).alias("n"),
        ).collect()[0]
        assert row.arr == row.via_str, (word, merges, row)
        assert row.n == len(row.arr), (word, merges, row)


def test_curation_v4_split_respects_components_and_drops(spark):
    """pipeline_corpus_curation_v4's exit contract: every kept doc gets a
    split, every dropped doc gets NULL, and no surviving LSH candidate
    pair straddles two splits (the leakage-free guarantee at the
    pipeline boundary)."""
    from realtime_datawarehouse_spark.operators import dedup
    from realtime_datawarehouse_spark.plans import llm_ops
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR_MID

    out = {
        r.doc_id: (r.status, r.split)
        for r in llm_ops.pipeline_corpus_curation_v4(
            spark, SF_DIR_MID
        ).collect()
    }
    assert all(
        (s == "kept") == (sp is not None) for s, sp in out.values()
    )
    kept_ids = {d for d, (s, _) in out.items() if s == "kept"}
    assert kept_ids  # pipeline keeps something
    docs = table(spark, SF_DIR_MID, "documents").select("doc_id", "text")
    for p in dedup.lsh_candidate_pairs(docs).collect():
        if p.doc_a in kept_ids and p.doc_b in kept_ids:
            assert out[p.doc_a][1] == out[p.doc_b][1], p


def test_apply_merge_string_form_randomized_stress(spark):
    """Seeded randomized sweep of fold-vs-regexp merge parity: 400 random
    words over an alphabet that includes regex metacharacters and a
    multi-char-unicode letter, pushed through 5 chained merges (so later
    merges see multi-char symbols produced by earlier ones) — all
    compared in ONE Spark job."""
    import random

    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import textops

    rng = random.Random(7)
    alphabet = list("ab$.*\\é")
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 14)))
        for _ in range(400)
    ]
    merges = [("a", "b"), ("a", "a"), ("$", "."), ("ab", "aa"), ("\\", "é")]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    sym_arr = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    sym_str = textops._sym_string(F.col("w"))
    for left, right in merges:
        sym_arr = textops._apply_merge(sym_arr, left, right)
        sym_str = textops._apply_merge_str(sym_str, left, right)
    bad = df.select(
        "w",
        sym_arr.alias("arr"),
        F.split(
            F.regexp_replace(
                sym_str, f"^{textops._SYM_SEP}|{textops._SYM_SEP}$", ""
            ),
            textops._SYM_SEP,
        ).alias("via_str"),
        textops._sym_token_count(sym_str).alias("n"),
    ).where(
        (F.col("arr") != F.col("via_str")) | (F.col("n") != F.size("arr"))
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_bpe_eval_oracles_agree_on_non_ascii(spark, tmp_path):
    """Code-review r7 finding: the BPE eval oracles used DuckDB strlen
    (BYTES) where Spark counts CHARACTERS — invisible on the ASCII
    driver fixture. Pin cross-engine agreement on a multi-byte corpus
    (é/ï/ü/ß are 2-octet UTF-8) for both eval oracles."""
    import duckdb

    from realtime_datawarehouse_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (1, "café café naïve café"),
            (2, "übermäßig café zç naïve"),
            # tab/newline/multi-space: Spark splits \\s+, so the oracle
            # must too (regexp_split_to_array, not string_split ' ')
            (3, "café\tnaïve\nzç  café"),
        ],
        "doc_id long, text string",
    )
    pq = str(tmp_path / "docs_parquet")
    docs.coalesce(1).write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'"
    )

    got = textops.bpe_train_contract_eval(docs, n_merges=4).collect()[0]
    exp = con.execute(
        textops.bpe_train_contract_eval_oracle(n_merges=4)
    ).fetchone()
    assert (
        got.step1_left,
        got.step1_right,
        got.step1_pair_ct,
        got.n_merges_learned,
    ) == exp

    got2 = textops.bpe_encode_roundtrip_eval(docs, n_merges=4).collect()[0]
    exp2 = con.execute(textops.BPE_ENCODE_ROUNDTRIP_ORACLE).fetchone()
    assert (
        got2.n_docs,
        got2.n_roundtrip_ok,
        got2.n_monotone_ok,
        got2.total_tokens_before,
        got2.corpus_reduced,
    ) == exp2
    # the byte/char distinction is actually exercised: char total must be
    # strictly below the octet total on this corpus
    octets = con.execute(
        "SELECT sum(octet_length(encode(x.w))) FROM (SELECT unnest("
        "string_split(lower(text), ' ')) AS w FROM documents) x"
    ).fetchone()[0]
    assert got2.total_tokens_before < octets


def test_bpe_encode_text_matches_kernel(spark):
    """Round 12: the driver-side single-text encoder behind GET /encode
    (``textops.bpe_encode_text``) must agree with the distributed
    mapInPandas kernel doc-for-doc — same sanitization, same greedy
    lowest-rank-first schedule — on the fixture AND the adversarial
    corpus, so a served tokenization always matches what the encodings
    table recorded. Counts pin the schedule; the joined-token roundtrip
    pins losslessness."""
    from realtime_datawarehouse_spark.operators import textops
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents").limit(50)
    merges = textops._bpe_collect_merges(docs, 32, "text")
    kernel_counts = {
        r.doc_id: (r.tokens_before, r.tokens_after)
        for r in textops.bpe_encode_vocab(docs, merges=merges).collect()
    }
    assert kernel_counts
    import re

    ws = re.compile(r"\s+", re.ASCII)
    for r in docs.select("doc_id", "text").collect():
        toks = textops.bpe_encode_text(r.text, merges)
        words = [w for w in ws.split(r.text.lower()) if w]
        assert kernel_counts[r.doc_id] == (
            sum(len(w) for w in words),
            len(toks),
        ), f"doc {r.doc_id} token counts diverge from the kernel"
        assert "".join(toks) == "".join(words)  # lossless

    adv = [
        ("abab ab ab ababa", [("a", "b"), ("ab", "ab")]),
        ("a$b.c* $$ a$ a$", [("a", "$"), ("$", "$")]),
        ("café café ca fé", [("c", "a"), ("ca", "f")]),
        ("", [("a", "b")]),
        ("x\x02y ab", [("x", "y"), ("a", "b")]),  # U+0002 stripped
    ]
    for text, m in adv:
        toks = textops.bpe_encode_text(text, m)
        clean = text.lower().replace("\x02", "")
        assert "".join(toks) == "".join(
            w for w in ws.split(clean) if w
        )
    assert textops.bpe_encode_text("x\x02y ab", [("x", "y")])[0] == "xy"


def test_bpe_encode_vocab_matches_regexp_form(spark):
    """VERDICT r7 item 1: the broadcast-vocabulary greedy merge-rank
    encoder (deployment form) must agree with the chained-regexp form
    doc-for-doc — on the driver fixture AND on an adversarial corpus
    engineered so the trained merges hit chains, overlaps, regex
    metacharacters, and unicode."""
    from realtime_datawarehouse_spark.operators import textops
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents")
    want = {
        r.doc_id: (r.tokens_before, r.tokens_after)
        for r in textops.bpe_encode(docs).collect()
    }
    got = {
        r.doc_id: (r.tokens_before, r.tokens_after)
        for r in textops.bpe_encode_vocab(docs).collect()
    }
    assert got == want
    assert len(got) > 0

    adv = spark.createDataFrame(
        [
            (1, "aaaa aaaa aa aaa"),
            (2, "abab ab ab ababa"),
            (3, "a$b.c* $$ a$ a$"),
            (4, "café café ca fé"),
            (5, r"\x\x \x x\ \\"),
            (6, ""),
            (7, None),
        ],
        "doc_id long, text string",
    )
    for n in (0, 3, 6):
        want = {
            r.doc_id: (r.tokens_before, r.tokens_after)
            for r in textops.bpe_encode(adv, n_merges=n).collect()
        }
        got = {
            r.doc_id: (r.tokens_before, r.tokens_after)
            for r in textops.bpe_encode_vocab(adv, n_merges=n).collect()
        }
        assert got == want, (n, got, want)


def test_bpe_encode_vocab_eval_matches_regexp_eval(spark):
    """Both encoders are pinned to ONE driver contract: the vocab form's
    eval row must equal the regexp form's eval row (same oracle string,
    BPE_ENCODE_ROUNDTRIP_ORACLE) on the fixture and on non-ascii text."""
    from realtime_datawarehouse_spark.operators import textops
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents")
    a = textops.bpe_encode_roundtrip_eval(docs).collect()[0]
    b = textops.bpe_encode_vocab_roundtrip_eval(docs).collect()[0]
    assert a.asDict() == b.asDict()
    assert b.n_roundtrip_ok == b.n_docs == b.n_monotone_ok
    assert b.corpus_reduced == 1

    nn = spark.createDataFrame(
        [(1, "héllo héllo wörld"), (2, "ça va çava ça")],
        "doc_id long, text string",
    )
    a = textops.bpe_encode_roundtrip_eval(nn, n_merges=4).collect()[0]
    b = textops.bpe_encode_vocab_roundtrip_eval(nn, n_merges=4).collect()[0]
    assert a.asDict() == b.asDict()


def test_bpe_encode_vocab_survives_large_vocabulary(spark):
    """The deployment claim itself: a 4000-merge rank-consistent table —
    far past where a chained-regexp Column tree stops compiling — runs
    through the vocab encoder with an O(1)-size plan, and its greedy
    lowest-rank-first loop matches a pure-Python SEQUENTIAL in-order
    reference apply exactly (the rank-consistency equivalence the kernel
    docstring argues)."""
    from realtime_datawarehouse_spark.operators import textops

    # deterministic rank-consistent synthetic table over a-z: each merge
    # combines two symbols that already exist at that rank (LCG-driven)
    syms = [chr(c) for c in range(ord("a"), ord("z") + 1)]
    merges = []
    seed = 0x2545F491
    for _ in range(4000):
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        i = seed % len(syms)
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        j = seed % len(syms)
        left, right = syms[i], syms[j]
        if len(left) + len(right) > 12:
            continue  # keep symbols short so some merges actually fire
        merges.append((left, right))
        syms.append(left + right)

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "aa ab ba bb abc bca cab abcabc"),
        (3, "zz zy yz zzzz qqq"),
        (4, "mississippi bookkeeper committee"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: (r.tokens_before, r.tokens_after)
        for r in textops.bpe_encode_vocab(docs, merges=merges).collect()
    }

    def seq_apply(word):
        s = list(word)
        for left, right in merges:
            out, i, n = [], 0, len(s)
            while i < n:
                if i < n - 1 and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        return s

    want = {}
    for doc_id, t in texts:
        words = [w for w in t.lower().split() if w]
        want[doc_id] = (
            sum(len(w) for w in words),
            sum(len(seq_apply(w)) for w in words),
        )
    assert got == want
    # the table must have actually fired somewhere (non-vacuity)
    assert any(a < b for b, a in got.values()), got


def test_incremental_pairs_equal_full_pair_increment(spark):
    """dedup_incremental_pairs non-vacuity + the union invariant's single
    step: the incremental generator over the standard ingest split must
    equal the FULL banded pair set restricted to pairs touching the
    batch — and be non-empty on the fixture."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import dedup
    from realtime_datawarehouse_spark.plans.registry import get_queries
    from realtime_datawarehouse_spark.tables import table

    got = {
        (r.doc_a, r.doc_b)
        for r in get_queries()["dedup_incremental_pairs"](
            spark, SF_DIR
        ).collect()
    }
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    m, rem = dedup.INCR_BATCH_MOD, dedup.INCR_BATCH_REMAINDER
    want = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(docs).collect()
        if r.doc_a % m == rem or r.doc_b % m == rem
    }
    assert got == want and len(got) > 0
    # and the increments across a 4-way ingest history UNION to the full
    # pair set (the invariant the split maintenance rides on)
    sigs = [
        dedup.minhash_signatures(
            docs.where(F.pmod(F.col("doc_id"), F.lit(4)) == i)
        )
        for i in range(4)
    ]
    acc = set()
    corpus = None
    for i in range(4):
        inc = dedup.incremental_candidate_pairs(sigs[i], corpus)
        acc |= {(r.doc_a, r.doc_b) for r in inc.collect()}
        corpus = (
            sigs[i] if corpus is None else corpus.unionByName(sigs[i])
        )
    full = {
        (r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(docs).collect()
    }
    assert acc == full


def test_mix_split_incremental_eval_matches_batch_query(spark):
    """The replayed incremental maintenance must land on EXACTLY the
    batch query's rollup (same oracle, same hash) — and the fixture must
    exercise it non-vacuously (near-dup clusters exist, so n_clusters <
    n_docs somewhere)."""
    from realtime_datawarehouse_spark.plans.registry import get_queries

    got = {
        r.split: (r.n_docs, r.n_clusters, r.n_rescued)
        for r in get_queries()["mix_split_incremental_eval"](
            spark, SF_DIR
        ).collect()
    }
    want = {
        r.split: (r.n_docs, r.n_clusters, r.n_rescued)
        for r in get_queries()["mix_cluster_aware_split_neardup"](
            spark, SF_DIR
        ).collect()
    }
    assert got == want
    assert sum(v[0] for v in got.values()) > 0
    assert any(v[1] < v[0] for v in got.values())  # real clusters merged


def test_bpe_encode_dispatches_to_vocab_kernel_past_regexp_max(
    spark, monkeypatch
):
    """Round 8: bpe_encode transparently hands off to the broadcast-
    vocabulary kernel past _BPE_REGEXP_MAX merges (the expression-tree
    cliff), with identical output on a corpus that trains past the
    threshold — callers never see the seam. The threshold is lowered for
    the test so training stays cheap; the seam is the same."""
    from realtime_datawarehouse_spark.operators import textops

    monkeypatch.setattr(textops, "_BPE_REGEXP_MAX", 12)
    rows = [
        (i, f"pair{i:02d}a pair{i:02d}b " * 3) for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n = textops._BPE_REGEXP_MAX + 4
    via_dispatch = {
        (r.doc_id, r.tokens_before, r.tokens_after)
        for r in textops.bpe_encode(docs, n_merges=n).collect()
    }
    direct = {
        (r.doc_id, r.tokens_before, r.tokens_after)
        for r in textops.bpe_encode_vocab(docs, n_merges=n).collect()
    }
    assert via_dispatch == direct and len(via_dispatch) == 20
    # and the dispatch's plan is the Arrow kernel, not a regexp chain
    plan = textops.bpe_encode(
        docs, n_merges=n
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "MapInPandas" in plan and "regexp_replace" not in plan


def test_ivf_incremental_index_matches_batch(spark, tmp_path):
    """Round 8: the incrementally-maintained IVF inverted-list table must
    equal ivf_assign over the accumulated corpus at EVERY step (frozen
    codebook ⇒ assignment depends only on the vector), survive a
    foreachBatch replay byte-identically, and serve the SAME top-k as the
    registered batch query."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import similarity, table_store
    from realtime_datawarehouse_spark.plans.registry import get_queries
    from realtime_datawarehouse_spark.streaming import pipelines
    from realtime_datawarehouse_spark.tables import table

    emb = table(spark, SF_DIR, "embeddings")
    centroids = similarity._ivf_centroids(emb)
    index_path = str(tmp_path / "ivf")
    seen = None
    for i in range(3):
        batch = emb.where(F.pmod(F.col("vec_id"), F.lit(3)) == i)
        pipelines.ingest_ivf_step(spark, batch, centroids, index_path, i)
        seen = batch if seen is None else seen.unionByName(batch)
        want = {
            r.vec_id: r.centroid_id
            for r in similarity.ivf_assign(seen, centroids).collect()
        }
        got = {
            r.vec_id: r.centroid_id
            for r in table_store.read_state(spark, index_path).collect()
        }
        assert got == want, f"step {i}"
        if i == 1:  # replay the same batch: idempotent
            pipelines.ingest_ivf_step(
                spark, batch, centroids, index_path, i
            )
            replay = {
                r.vec_id: r.centroid_id
                for r in table_store.read_state(
                    spark, index_path
                ).collect()
            }
            assert replay == want

    # index-served top-k == the registered batch query (full corpus now in)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got_topk = {
        (r.query_id, r.neighbor_id, r.sim, r.rnk)
        for r in pipelines.ivf_topk_from_index(
            spark, index_path, queries, centroids
        ).collect()
    }
    want_topk = {
        (r.query_id, r.neighbor_id, r.sim, r.rnk)
        for r in get_queries()["ann_ivf_topk"](spark, SF_DIR).collect()
    }
    assert got_topk == want_topk and len(got_topk) > 0
    # and the registered eval reproduces it end-to-end
    eval_topk = {
        (r.query_id, r.neighbor_id, r.sim, r.rnk)
        for r in get_queries()["ann_ivf_incremental_eval"](
            spark, SF_DIR
        ).collect()
    }
    assert eval_topk == want_topk


def test_ivf_refresh_atomic_swap_trained_path_and_post_refresh_ingest(
    spark, tmp_path
):
    """Round 10 (VERDICT r9 item 1), the non-oracle half of the refresh
    contract (the oracle half is ann_ivf_refresh_eval):

    - the refresh lands as EXACTLY ONE new table version (codebook +
      re-assigned lists in one atomic flip);
    - a refresh whose commit cannot land leaves the standing table
      byte-identical (no partial state — only the commit mutates);
    - the TRAINED-codebook path (k-means via train_centroids) serves
      bit-identically to the batch form with the same codebook through
      the shared serve path, and its recall@k vs brute truth is >= the
      registered trained-recall floor's shape (non-trivial: > 0);
    - an ingest step AFTER the refresh assigns against the EMBEDDED
      refreshed codebook even when the caller still passes the stale
      frozen one (the production loop keeps passing its loop-start
      arg)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import (
        similarity,
        table_store,
    )
    from realtime_datawarehouse_spark.streaming import pipelines
    from realtime_datawarehouse_spark.tables import table

    emb = table(spark, SF_DIR, "embeddings")
    frozen = similarity._ivf_centroids(
        emb.where(F.pmod(F.col("vec_id"), F.lit(3)) == 0)
    )
    index_path = str(tmp_path / "ivf")
    for i in range(3):
        pipelines.ingest_ivf_step(
            spark,
            emb.where(F.pmod(F.col("vec_id"), F.lit(3)) == i),
            frozen,
            index_path,
            batch_id=i,
        )
    pre_versions = set(table_store.list_versions(index_path))
    pre_state = {
        (r.vec_id, r.centroid_id)
        for r in table_store.read_state(spark, index_path).collect()
    }

    # a refresh that cannot commit leaves the table untouched
    orig_commit = table_store.commit

    def _refuse(df, path, expected_version=..., **kw):
        raise table_store.ConcurrentCommitError("injected")

    table_store.commit = _refuse
    try:
        with pytest.raises(table_store.ConcurrentCommitError):
            pipelines.refresh_ivf_index(
                spark, index_path, refresh_id=9, attempts=2
            )
    finally:
        table_store.commit = orig_commit
    assert set(table_store.list_versions(index_path)) == pre_versions
    assert {
        (r.vec_id, r.centroid_id)
        for r in table_store.read_state(spark, index_path).collect()
    } == pre_state
    cb, _ = pipelines.read_ivf_index(spark, index_path)
    assert cb is None  # still no embedded codebook

    # trained refresh: ONE new version, embedded codebook, serve parity
    trained = similarity.train_centroids(emb, k=8, iters=2)
    pipelines.refresh_ivf_index(
        spark, index_path, refresh_id=9, new_centroids=trained
    )
    post_versions = set(table_store.list_versions(index_path))
    assert len(post_versions - pre_versions) == 1
    stored_cb, assigned = pipelines.read_ivf_index(spark, index_path)
    assert stored_cb is not None and stored_cb.count() == trained.count()
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    served = {
        (r.query_id, r.neighbor_id, r.sim, r.rnk)
        for r in pipelines.ivf_topk_from_index(
            spark, index_path, queries
        ).collect()
    }
    batch_form = {
        (r.query_id, r.neighbor_id, r.sim, r.rnk)
        for r in similarity.ivf_topk(
            emb, queries, 5, centroids=trained
        ).collect()
    }
    assert served == batch_form and len(served) > 0
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_topk(emb, queries, 5).collect()
    }
    hits = sum((q, n) in brute for (q, n, _, _) in served)
    assert hits > 0  # trained serve finds true neighbors

    # post-refresh ingest assigns via the EMBEDDED codebook even when
    # the caller passes the stale frozen arg
    extra = emb.where(F.col("vec_id") < 8).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    pipelines.ingest_ivf_step(spark, extra, frozen, index_path, batch_id=3)
    want = {
        r.vec_id: r.centroid_id
        for r in similarity.ivf_assign(extra, trained).collect()
    }
    _, assigned2 = pipelines.read_ivf_index(spark, index_path)
    got = {
        r.vec_id: r.centroid_id
        for r in assigned2.where(
            F.col("vec_id") >= 1_000_000
        ).collect()
    }
    assert got == want and len(got) == 8


def test_classifier_training_is_partition_invariant(spark):
    """The integer-determinism claim of train_quality_classifier: the
    trained weights and per-iter losses are BIT-IDENTICAL whatever the
    input partitioning (every aggregated quantity is an int64 sum of
    per-doc-quantized terms — order-free), and iteration 1's loss is
    exactly the null model's n·ln2 in micros (w=0 ⇒ z=0 ⇒ per-doc loss
    floor(ln2·1e6 + .5) = 693147)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import textops
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR

    docs = table(spark, SF_DIR, "documents")
    y = F.col("lang") == F.lit("en")
    w1, l1, n1 = textops.train_quality_classifier(docs, y, iters=4)
    w2, l2, n2 = textops.train_quality_classifier(
        docs.repartition(7), y, iters=4
    )
    assert (w1, l1, n1) == (w2, l2, n2)
    assert l1[0] == n1 * 693_147
    assert l1[-1] < l1[0]


def test_classifier_train_eval_rejects_degenerate_iters(spark):
    """ADVICE r9 (low): iters=1 is as degenerate as iters=0 for the
    EVAL's contract — iteration 1's loss IS the null loss (w=0), so
    losses[-1] == losses[0], loss_decreased=0, beats_null=0, and the
    oracle's hardcoded 1s would spuriously fail. The guard must reject
    both before launching any Spark job."""
    import pytest as _pytest

    from realtime_datawarehouse_spark.operators import textops
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR

    docs = table(spark, SF_DIR, "documents")
    for bad in (0, 1):
        with _pytest.raises(ValueError, match="iters >= 2"):
            textops.classifier_train_eval(docs, iters=bad)


def test_classifier_learns_planted_separation(spark):
    """End-to-end: train on a linearly separable planted corpus, export
    milli-quantized weights, score through the SHARED serve path
    (quality_classifier(weights=...)) — 100% accuracy, margin sign ==
    the trained decision (mean-pooled z and the raw-count margin differ
    by the positive factor n_tokens, so keep is identical)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import textops

    rows = []
    for i in range(60):
        good = i % 2 == 0
        marker = (
            "excellent wonderful prose" if good else "spam junk garbage"
        )
        rows.append(
            (i, f"{marker} filler words number{i % 7}",
             "en" if good else "de")
        )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    w, losses, n = textops.train_quality_classifier(
        docs, F.col("lang") == F.lit("en"), iters=12
    )
    assert n == 60 and losses[-1] < losses[0]
    wdf = textops.classifier_weights_df(spark, w)
    pred = {
        r.doc_id: r.keep
        for r in textops.quality_classifier(docs, weights=wdf).collect()
    }
    assert all(pred[i] == (1 if i % 2 == 0 else 0) for i in range(60))


def test_refresh_eval_oracles_agree_on_non_ascii(spark, tmp_path):
    """The r11 refresh evals are length-/token-sensitive, and the driver
    fixture is ASCII-only — a byte/char mix-up in their oracles would
    pass every driver compare and break only on real unicode (the
    test_bpe_eval_oracles_agree_on_non_ascii lesson). Run BOTH full
    evals on a multi-byte corpus (2-octet é/ï/ü/ß + CJK) against their
    DuckDB oracles. Single-space text per the tokenize-oracle
    convention (string_split ' ' ≡ \\s+ there); the BPE corpus also
    pins Σ-char (not Σ-octet) totals and Spark reverse() preserving the
    word-length multiset on multi-byte text."""
    import duckdb

    from realtime_datawarehouse_spark.plans import llm_ops

    base = "café naïve übermäßig zç 数据 café naïve café 数据 zç"
    rows = []
    for i in range(36):
        # doc_id stride 1 → all six mod-6 stages populated; vary length
        # so the quality eval's short/long PSI staging has both sides
        txt = " ".join([base] * (1 + (i % 3)))
        rows.append((i, txt, "xx", "srcA", len(txt)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars int"
    )
    sf_dir = str(tmp_path / "sf_nonascii")
    import os

    os.makedirs(sf_dir, exist_ok=True)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet/*.parquet'"
    )

    def compare(fn, oracle):
        got = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        exp = sorted(tuple(r) for r in con.execute(oracle).fetchall())
        assert got == exp

    compare(
        llm_ops.bpe_vocab_refresh_eval, llm_ops.BPE_VOCAB_REFRESH_ORACLE
    )
    compare(
        llm_ops.quality_refresh_eval, llm_ops._quality_refresh_oracle()
    )
    # the byte/char distinction is exercised: the corpus' char total is
    # strictly below its octet total
    chars, octs = con.execute(
        "SELECT sum(length(x.w)), sum(octet_length(encode(x.w))) FROM "
        "(SELECT unnest(string_split(lower(text), ' ')) AS w "
        "FROM documents) x"
    ).fetchone()
    assert chars < octs

    # round 12: the v3 composed-loop eval adds reverse()-PARITY
    # sensitivity (its quality margins hash REVERSED multi-byte tokens
    # — DuckDB reverses by grapheme cluster, Spark by code point, which
    # agree on NFC text without combining marks; the oracle documents
    # the caveat). A second fixture with short/long classes straddling
    # the 200-char staging boundary + 64-d float vectors drives all
    # three triggers on the multi-byte corpus.
    rows3 = []
    vecs3 = []
    for i in range(140):
        reps = 2 if i % 2 == 0 else 6  # ~97 chars short / ~293 long
        txt = " ".join([base] * reps)
        rows3.append((i, txt, "xx", "srcA", len(txt)))
        vecs3.append(
            (i, [((i * (d + 3)) % 29) / 29.0 + 0.05 for d in range(64)])
        )
    sf3 = str(tmp_path / "sf_nonascii_v3")
    os.makedirs(sf3, exist_ok=True)
    spark.createDataFrame(
        rows3, "doc_id long, text string, lang string, source string, "
        "n_chars int"
    ).coalesce(1).write.parquet(f"{sf3}/documents.parquet")
    spark.createDataFrame(
        vecs3, "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(f"{sf3}/embeddings.parquet")
    con3 = duckdb.connect()
    for t in ("documents", "embeddings"):
        con3.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{sf3}/{t}.parquet/*.parquet'"
        )
    got = sorted(
        tuple(r)
        for r in llm_ops.pipeline_production_ingest_v3_eval(
            spark, sf3
        ).collect()
    )
    exp = sorted(
        tuple(r)
        for r in con3.execute(llm_ops._prod_ingest_v3_oracle()).fetchall()
    )
    assert got == exp


def test_positional_prefix_filter_is_lossless_and_prunes(spark):
    """r14 positional filter (PPJoin, VERDICT r13 item 3): the positional
    bound must prune a planted late-prefix single-match pair that the
    length filter alone keeps, while keeping a first-position match pair.
    (On the sf0.001/0.01 fixtures every candidate is a true near-dup —
    losslessness there is pinned end-to-end by
    ``test_jaccard_prefix_matches_full_inverted_index``; at sf0.1 the
    measured prune is 71%: 43 410 → 12 594 candidates,
    OPTIMIZATION_r14.md.)"""
    from realtime_datawarehouse_spark.operators import dedup

    # planted case: doc 1 and doc 2 share hash 100 at positions (1, 1)
    # → overlap bound 1 + min(9, 9) = 10 ≥ α = ⌈0.79995·20/1.79995⌉ ≈ 8.9
    # → kept; doc 1 and doc 3 share hash 100 at positions (3, 3) →
    # bound 1 + min(7, 7) = 8 < 8.9 → pruned, though their lengths are
    # identical so the length filter alone keeps them.
    synth = spark.createDataFrame(
        [
            (1, 10, [100, 1, 2], 3),
            (2, 10, [100, 11, 12], 3),
            (3, 10, [21, 22, 100], 3),
        ],
        "doc_id long, n long, hs array<long>, p int",
    )
    keep = {
        (r.doc_a, r.doc_b)
        for r in dedup._pf_candidates(synth, positional=True).collect()
    }
    keep_nopos = {
        (r.doc_a, r.doc_b)
        for r in dedup._pf_candidates(synth, positional=False).collect()
    }
    assert (1, 2) in keep and (1, 3) not in keep, keep
    assert {(1, 2), (1, 3)} <= keep_nopos


def test_pagerank_caches_are_generation_scoped(spark):
    """r14 persist lifecycle (VERDICT r13 item 6): pagerank's two persisted
    relations (ej, base_nodes) are released when the NEXT pagerank call
    builds — a long-lived session holds at most one dead generation — and
    a rotated-away generation still computes correctly (unpersist only
    drops the cache, never the lineage)."""
    from realtime_datawarehouse_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 2)], "src long, dst long"
    )
    r1 = graph.pagerank(edges, iters=2)
    out1 = sorted(tuple(r) for r in r1.collect())
    gen1 = list(graph._PREV_CACHES)
    assert len(gen1) == 2
    assert all(
        df.storageLevel.useMemory or df.storageLevel.useDisk for df in gen1
    )
    r2 = graph.pagerank(edges, iters=2)
    assert all(
        not (df.storageLevel.useMemory or df.storageLevel.useDisk)
        for df in gen1
    ), "previous generation must be unpersisted by the next call"
    assert len(graph._PREV_CACHES) == 2
    out2 = sorted(tuple(r) for r in r2.collect())
    assert out1 == out2
    # the rotated-away first result is still recomputable and identical
    assert sorted(tuple(r) for r in r1.collect()) == out1
