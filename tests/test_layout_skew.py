"""Scale-path utilities: bucketed co-located joins (no exchange) and skew
salting (exact results, spread partitions)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from realtime_datawarehouse_spark.operators import layout, skew
from realtime_datawarehouse_spark.tables import table
from tests.conftest import SF_DIR


def _plan(spark, df, mode="simple"):
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_bucketed_join_elides_shuffle(spark, tmp_path):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    layout.write_bucketed(
        li, "b_lineitem", "l_orderkey", 8, path=str(tmp_path / "b_li")
    )
    layout.write_bucketed(
        o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "b_orders", "l_orderkey", 8, path=str(tmp_path / "b_o"),
    )
    bl, bo = spark.table("b_lineitem"), spark.table("b_orders")
    # force the non-broadcast path so the exchange elision is what's tested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(bo, "l_orderkey")
        plan = _plan(spark, joined)
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and it computes the same thing as the plain join
        plain = table(spark, SF_DIR, "lineitem").join(
            table(spark, SF_DIR, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_salted_count_distinct_exact(spark):
    li = table(spark, SF_DIR, "lineitem")
    got = (
        skew.salted_count_distinct(li, "l_returnflag", "l_orderkey", n_salt=16)
        .orderBy("l_returnflag")
        .collect()
    )
    exp = (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("distinct_ct"))
        .orderBy("l_returnflag")
        .collect()
    )
    assert [(r.l_returnflag, r.distinct_ct) for r in got] == [
        (r.l_returnflag, r.distinct_ct) for r in exp
    ]


@pytest.mark.parametrize("how", ["inner", "left"])
def test_replicated_salt_join_matches_plain(spark, how):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    agg = (
        table(spark, SF_DIR, "orders")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey")
    )
    got = skew.replicated_salt_join(li, agg, "l_orderkey", n_salt=4, how=how)
    plain = li.join(agg, "l_orderkey", how)
    assert got.count() == plain.count()
    g = got.groupBy().agg(F.sum(F.col("l_quantity") * F.coalesce("o_custkey", F.lit(0))).alias("s")).collect()[0].s
    p = plain.groupBy().agg(F.sum(F.col("l_quantity") * F.coalesce("o_custkey", F.lit(0))).alias("s")).collect()[0].s
    assert abs(g - p) < 1e-6


def test_jaccard_hot_shingle_cap_matches_capped_oracle(spark, duck):
    """The max_doc_freq skew cap must compute the same (lower-bound) result
    as its capped SQL oracle — and strictly fewer/equal pairs than exact."""
    from realtime_datawarehouse_spark.operators import dedup
    from tests.conftest import assert_matches_oracle

    docs = table(spark, SF_DIR, "documents")
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.8, max_doc_freq=10)
    assert_matches_oracle(
        capped, duck, dedup.ngram_jaccard_oracle(0.8, max_doc_freq=10)
    )
    exact_ct = dedup.ngram_jaccard_pairs(docs, 0.8).count()
    assert capped.count() <= exact_ct


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join (the engine's default skew path, session.py) must split
    an oversized hot-key partition at runtime: the final adaptive plan marks
    the sort-merge join 'skew=true' once thresholds are crossed."""
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # two caveats this test documents: (a) partition coalescing can
        # absorb the skew before the skew rule sees it at toy sizes, and
        # (b) a downstream op requiring hash distribution vetoes splitting
        # unless forceOptimizeSkewedJoin pays the extra shuffle — so the
        # asserted shape is a bare join with coalescing off
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(500_000).select(
            F.lit(7).alias("k"), (F.col("id") * 77).alias("payload")
        )
        big = hot.unionByName(
            spark.range(10_000).select(
                (F.col("id") % 50).alias("k"), F.col("id").alias("payload")
            )
        )
        uniform = spark.range(50).select(
            F.col("id").alias("k"), F.col("id").alias("u")
        )
        # collect() finalizes THIS Dataset's adaptive plan (count()/writes
        # spawn their own executions); one match per key keeps it small
        df = big.join(uniform, "k")
        assert len(df.collect()) == 510_000
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
        plan = df._jdf.queryExecution().explainString(jmode)
        assert "skew=true" in plan and "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_compact_folds_small_files(spark, tmp_path):
    """Compaction must reduce file count to the size-derived target while
    preserving every row (staged rewrite + swap, never in-place)."""
    import os

    from realtime_datawarehouse_spark.operators.layout import compact

    path = str(tmp_path / "many_small")
    li = table(spark, SF_DIR, "lineitem")
    for i in range(6):  # 6 appends × partitions = many small files
        li.where(F.col("l_linenumber") == i + 1).coalesce(2).write.mode(
            "append"
        ).parquet(path)
    before_files = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    before_rows = spark.read.parquet(path).count()
    checksum = spark.read.parquet(path).agg(
        F.sum("l_orderkey"), F.sum("l_partkey")
    ).collect()[0]

    after_files = compact(spark, path, target_file_bytes=4 * 1024 * 1024)
    assert after_files < before_files
    assert spark.read.parquet(path).count() == before_rows
    assert (
        spark.read.parquet(path)
        .agg(F.sum("l_orderkey"), F.sum("l_partkey"))
        .collect()[0]
        == checksum
    )


def test_zorder_key_matches_reference_interleave(spark):
    import random

    from realtime_datawarehouse_spark.operators.layout import zorder_key

    rng = random.Random(7)
    rows = [(rng.randrange(0, 1 << 16), rng.randrange(0, 1 << 16)) for _ in range(200)]

    def morton(x, y, bits=16):
        out = 0
        for b in range(bits):
            out |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return out

    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.k
        for r in df.select("x", "y", zorder_key(["x", "y"]).alias("k")).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == morton(x, y)


def test_zorder_write_tightens_rowgroup_stats(spark, duck, tmp_path):
    """Sorting by the Morton key must shrink per-row-group min/max ranges on
    BOTH clustered columns vs an unsorted write — the property parquet data
    skipping feeds on (measured from real footer stats via DuckDB)."""
    from realtime_datawarehouse_spark.operators.layout import zorder_key

    from tests.conftest import SF_DIR_MID

    # both columns need cardinality >> rows-per-group, else the range
    # saturates no matter the layout
    li = table(spark, SF_DIR_MID, "lineitem").select("l_partkey", "l_orderkey")
    plain, zord = str(tmp_path / "plain"), str(tmp_path / "zord")
    # small parquet blocks on BOTH writes → many row groups → meaningful stats
    blk = {"parquet.block.size": str(64 * 1024)}
    li.orderBy(F.md5(F.concat_ws("_", "l_partkey", "l_orderkey"))).coalesce(
        1
    ).write.options(**blk).parquet(plain)
    # normalize both columns to a common 10-bit domain first — with raw
    # values the wider column's high bits dominate the interleave and the
    # narrow column gains nothing (the bucketize-first rule in zorder_key)
    mx = li.agg(F.max("l_partkey"), F.max("l_orderkey")).collect()[0]
    zk = zorder_key(
        [
            (F.col("l_partkey") * 1023 / mx[0]).cast("long"),
            (F.col("l_orderkey") * 1023 / mx[1]).cast("long"),
        ],
        bits=10,
    )
    li.orderBy(zk).coalesce(1).write.options(**blk).parquet(zord)

    def avg_range(path, col):
        return duck.execute(
            f"""SELECT avg(CAST(stats_max AS BIGINT) - CAST(stats_min AS BIGINT))
                FROM parquet_metadata('{path}/*.parquet')
                WHERE path_in_schema = '{col}'"""
        ).fetchone()[0]

    for col in ("l_partkey", "l_orderkey"):
        assert avg_range(zord, col) < avg_range(plain, col) * 0.7, col


def test_compact_recovery_at_every_crash_point(spark, tmp_path):
    """ADVICE r01 #4: a crash between compact's two renames must never lose
    the table — recover_compact restores exactly one complete copy from
    whichever of (old, fully-staged) survives."""
    import os
    import shutil

    from realtime_datawarehouse_spark.operators.layout import recover_compact

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i,) for i in range(10)], "id int")
    df.coalesce(1).write.parquet(path)

    # crash point A: path renamed away, staging fully written → promote staging
    staging, old = path + ".compact-staging", path + ".compact-old"
    shutil.copytree(path, staging)
    os.rename(path, old)
    recover_compact(path)
    assert spark.read.parquet(path).count() == 10
    assert not os.path.exists(old) and not os.path.exists(staging)

    # crash point B: path renamed away, staging incomplete → roll back old
    shutil.copytree(path, staging)
    os.remove(os.path.join(staging, "_SUCCESS"))
    os.rename(path, old)
    recover_compact(path)
    assert spark.read.parquet(path).count() == 10
    assert not os.path.exists(old) and not os.path.exists(staging)


def test_runtime_bloom_filter_join_prunes_probe_side(spark):
    """Runtime row-level filtering (Spark's runtime Bloom filter): on a
    shuffle join whose build side is selective, the optimizer injects a
    bloom `might_contain` predicate into the PROBE side's scan stage —
    probe rows that cannot match are dropped before the exchange. At
    100 TB this is the difference between shuffling the full fact table
    and shuffling the ~matching slice. The size thresholds are tuned for
    real clusters (application side ≥ 10 GB by default), so the test
    forces them down to demonstrate the mechanism at fixture scale;
    result equality with the unfiltered join is asserted."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR_MID

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (
            table(spark, SF_DIR_MID, "orders")
            .where(F.col("o_totalprice") > 400000)
            .select("o_orderkey")
        )
        l = table(spark, SF_DIR_MID, "lineitem")
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        filtered_ct = j.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    o2 = (
        table(spark, SF_DIR_MID, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    l2 = table(spark, SF_DIR_MID, "lineitem")
    plain = l2.join(o2, l2.l_orderkey == o2.o_orderkey)
    assert "might_contain" not in plain._jdf.queryExecution().executedPlan().toString()
    assert filtered_ct == plain.count()


def test_hive_partitioned_write_prunes_partitions(spark, tmp_path):
    """Date-partitioned layout (the 100 TB fact-table norm): a
    single-day predicate must prune at the DIRECTORY level — the scan's
    PartitionFilters carries the predicate and the file count drops to
    one partition's worth, so a day query over a year of data reads
    1/365th of the files, not a row-filtered full scan."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.tables import table

    path = str(tmp_path / "events_by_day")
    ev = table(spark, SF_DIR, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.partitionBy("dt").mode("overwrite").parquet(path)

    df = spark.read.parquet(path).where(F.col("dt") == "2024-01-05")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "dt#" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    n_days = ev.select("dt").distinct().count()
    # pruned read touches exactly the one matching partition
    scanned = df.count()
    expected = ev.where(F.col("dt") == "2024-01-05").count()
    assert scanned == expected > 0
    import glob

    assert len(glob.glob(f"{path}/dt=*")) == n_days


def test_rebalance_narrow_scan_rule(spark, tmp_path):
    """The one narrow-scan rule: an input that lists fewer files than the
    session's default parallelism is round-robin redistributed to it,
    and the decision runs no Spark job, even on a derived input whose
    partition count only AQE would know."""
    target = spark.sparkContext.defaultParallelism
    docs = table(spark, SF_DIR, "documents")

    # (a) a semi-join against an aggregate over the fixture
    firsts = docs.groupBy("source").agg(F.min("doc_id").alias("doc_id"))
    derived = docs.join(firsts, "doc_id", "left_semi")
    sc = spark.sparkContext
    sc.setJobGroup("narrow-scan-rule", "narrow-scan-rule")
    try:
        out = layout.rebalance_narrow_scan(derived)
    finally:  # the session is shared: clear what setJobGroup set
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    assert list(sc.statusTracker().getJobIdsForGroup("narrow-scan-rule")) == []
    plan = _plan(spark, out)
    assert plan.count("RoundRobinPartitioning(") == 1, plan
    assert f"RoundRobinPartitioning({target})" in plan, plan

    # (b) a directory of at least `target` files is already wide
    path = str(tmp_path / "wide")
    docs.repartition(target).write.parquet(path)
    wide = spark.read.parquet(path)
    assert len(wide.inputFiles()) >= target
    assert layout.rebalance_narrow_scan(wide) is wide

    # (c) the one-file fixture scan is redistributed
    assert len(docs.inputFiles()) == 1
    plan = _plan(spark, layout.rebalance_narrow_scan(docs))
    assert f"RoundRobinPartitioning({target})" in plan, plan


# Registered queries whose CPU-heavy operator reads the raw fixture scan
# through rebalance_narrow_scan: the ten whose operator used to skip
# small inputs, then the single-operator heavy ones.
NARROW_SCAN_QUERIES = [
    "u1_tokenize_explode_count",
    "text_token_count",
    "text_lang_id",
    "text_lang_confusion",
    "text_fingerprint",
    "text_unigram_logprob",
    "text_perplexity_buckets",
    "mix_token_budget_sample",
    "text_chunk_documents",
    "text_substring_dedup",
    "ann_brute_topk",
    "curate_bloom_decontaminate",
    "text_bigram_logprob",
    "text_cdc_chunks",
    "text_char_entropy",
    "text_dup_ngram_coverage",
    "text_ngram_topk",
    "text_quality_classifier",
    "text_quality_score",
    "text_repetition_signals",
    "text_shared_substring_runs",
    "text_tfidf_top_terms",
    "text_winnowing_fingerprint",
]


@pytest.mark.parametrize("name", NARROW_SCAN_QUERIES)
def test_heavy_query_redistributes_narrow_scan(spark, name):
    """Plan only, nothing executed: each query's plan over the one-file
    fixture carries the rule's round-robin exchange. A missing call
    leaves its heavy operator at one task per input file."""
    from realtime_datawarehouse_spark.plans import registry

    registry.load()
    df = registry.QUERIES[name](spark, SF_DIR)
    target = spark.sparkContext.defaultParallelism
    plan = _plan(spark, df)
    assert f"RoundRobinPartitioning({target})" in plan, plan
