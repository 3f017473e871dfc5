"""End-to-end layered warehouse test: ODS→DIM→DWD→DWS→ADS over parquet
layers, with the final ADS numbers checked against DuckDB straight off the
source fixtures (the whole pipeline must be lossless)."""

from __future__ import annotations

import datetime
import os
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from realtime_datawarehouse_spark.plans import warehouse
from tests.conftest import SF_DIR


def test_layered_pipeline_end_to_end(spark, duck, tmp_path):
    out = str(tmp_path / "wh")
    paths = warehouse.run_warehouse(spark, SF_DIR, out)

    # every layer landed
    for key in (
        "ods/topic_db_cart", "ods/topic_log", "dim/dim_part",
        "dim/dim_supplier", "dwd/cart_add", "dwd/order_detail",
        "dwd/page_log", "dws/sku_order", "dws/trade_daily", "dws/cart_uu",
    ):
        assert key in paths, f"missing layer table {key}"

    # DIM: config-routed upsert state matches the oracle (insert+update-delete)
    dim_part_ct = spark.read.parquet(paths["dim/dim_part"]).count()
    exp_part = duck.execute(
        "SELECT count(*) FROM part WHERE p_partkey % 7 <> 0"
    ).fetchone()[0]
    assert dim_part_ct == exp_part

    # DWD: cart facts equal the S3 envelope-pipeline oracle
    cart_ct = spark.read.parquet(paths["dwd/cart_add"]).count()
    exp_cart = duck.execute(
        """SELECT count(*) FROM lineitem
           WHERE l_linenumber <> 7
             AND (l_returnflag = 'A'
                  OR (l_returnflag = 'R' AND l_linenumber % 3 = 2))"""
    ).fetchone()[0]
    assert cart_ct == exp_cart

    # DWS cart_uu: distinct cart-add users (l_suppkey) per event day, the
    # envelope ts being l_orderkey epoch seconds, as DuckDB counts them
    got = {
        r.dt: r.cart_add_uu
        for r in spark.read.parquet(paths["dws/cart_uu"]).collect()
    }
    exp = dict(
        duck.execute(
            """SELECT strftime(DATE '1970-01-01'
                               + CAST(l_orderkey // 86400 AS INTEGER),
                               '%Y-%m-%d'),
                      count(DISTINCT l_suppkey)
               FROM lineitem
               WHERE l_linenumber <> 7
                 AND (l_returnflag = 'A'
                      OR (l_returnflag = 'R' AND l_linenumber % 3 = 2))
               GROUP BY 1"""
        ).fetchall()
    )
    assert exp and got == exp

    # DWD order_detail is one unpartitioned table: dt is a column spanning
    # more dates than the table has data files, and its per-dt amounts
    # equal DuckDB's straight off the fixtures
    files = [
        f for f in os.listdir(paths["dwd/order_detail"]) if f.endswith(".parquet")
    ]
    got = {
        str(r.dt): r.amount
        for r in spark.read.parquet(paths["dwd/order_detail"])
        .groupBy("dt")
        .agg(F.sum("split_original_amount").alias("amount"))
        .collect()
    }
    exp = dict(
        duck.execute(
            """SELECT strftime(o.o_orderdate, '%Y-%m-%d'),
                      sum(l.l_quantity * l.l_extendedprice)
               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
               GROUP BY 1"""
        ).fetchall()
    )
    assert len(got) > len(files) >= 1
    assert got.keys() == exp.keys()
    for dt, amount in exp.items():
        assert abs(got[dt] - amount) < 1e-6 * max(1.0, abs(amount)), dt

    # ADS: gmv for the busiest day, computed through ALL layers, equals
    # DuckDB computed directly from the raw fixtures
    dt, exp_gmv = duck.execute(
        """SELECT strftime(o.o_orderdate, '%Y-%m-%d') AS dt,
                  sum(l.l_quantity * l.l_extendedprice) AS gmv
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1 ORDER BY count(*) DESC LIMIT 1"""
    ).fetchone()
    got = warehouse.ads_gmv(spark, out, dt)
    assert abs(got - float(exp_gmv)) < 1e-6 * max(1.0, abs(exp_gmv))


@contextmanager
def _job_group(spark, group: str):
    """Run the body under ``setJobGroup(group)``; yields the SparkContext."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield sc
    finally:  # the session is shared: clear what setJobGroup set
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)


@pytest.fixture(scope="module")
def built_warehouse(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wh"))
    warehouse.run_warehouse(spark, SF_DIR, out)
    return out


def test_layer_writes_carry_the_callers_job_group(spark, tmp_path):
    """Each layer's writes run on their own threads, yet every job they
    start stays under the caller's job group: at least one job per table."""
    with _job_group(spark, "t") as sc:
        warehouse.build_ods(spark, SF_DIR, str(tmp_path / "wh"))
    assert len(sc.statusTracker().getJobIdsForGroup("t")) >= 3


def test_declared_layer_schemas_match_the_written_files(spark, built_warehouse):
    """Layers read each other's tables by declared schema. A declaration
    that drifts from what the writer writes would read the drifted column
    as nulls without an error, so every declared field name and type must
    equal the file's (nullability aside)."""

    def fields(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema]

    for layer, name in warehouse._SCHEMAS:
        written = spark.read.parquet(os.path.join(built_warehouse, layer, name))
        declared = warehouse._read(spark, built_warehouse, layer, name)
        assert fields(written.schema) == fields(declared.schema), (layer, name)


def test_ads_gmv_runs_at_most_two_jobs(spark, built_warehouse):
    """ADS reads DWS by its declared schema: the gmv lookup is the
    aggregate's own jobs, with no schema-discovery job before them."""
    dt = str(
        spark.read.parquet(os.path.join(built_warehouse, "dws", "trade_daily"))
        .first()
        .dt
    )
    with _job_group(spark, "ads_gmv") as sc:
        assert warehouse.ads_gmv(spark, built_warehouse, dt) > 0
    assert len(sc.statusTracker().getJobIdsForGroup("ads_gmv")) <= 2


def test_failed_layer_write_raises_after_the_others_land(
    spark, tmp_path, monkeypatch
):
    """A write that fails inside a layer call makes the call raise, and
    the call returns only once the layer's other writes have finished."""
    monkeypatch.setattr(
        warehouse,
        "_cart_envelopes",
        lambda spark, sf_dir: spark.range(1).select(
            F.raise_error(F.lit("planted write failure")).alias("x")
        ),
    )
    out = str(tmp_path / "wh")
    with pytest.raises(Exception, match="planted write failure"):
        warehouse.build_ods(spark, SF_DIR, out)
    for name in ("topic_db_dims", "topic_log"):
        assert os.path.exists(os.path.join(out, "ods", name, "_SUCCESS"))


def test_ads_gmv_reads_its_own_out_dir_and_leaves_no_view(spark, tmp_path):
    """Concurrent ads_gmv calls over different warehouses each read their
    own DWS table: no session-global temp view is shared between them."""
    amounts = {}
    for i, amount in enumerate((1.5, 2.5)):
        out = str(tmp_path / f"wh{i}")
        spark.createDataFrame(
            [(datetime.date(1995, 3, 1), amount, 1)],
            "dt date, order_amount double, order_uu_ct long",
        ).write.parquet(os.path.join(out, "dws", "trade_daily"))
        amounts[out] = amount
    outs = list(amounts) * 4
    with ThreadPoolExecutor(max_workers=len(outs)) as pool:
        got = list(
            pool.map(
                lambda out: warehouse.ads_gmv(spark, out, "1995-03-01"),
                outs,
                timeout=300,
            )
        )
    assert got == [amounts[out] for out in outs]
    assert warehouse.ads_gmv(spark, outs[0], "1995-03-02") == 0.0
    assert not spark.catalog.tableExists("dws_trade_daily")


def test_tpch_refresh_streams_rf1_rf2(spark, duck, tmp_path):
    """TPC-H-style refresh workload through the versioned table store:
    RF1 inserts a batch of new orders, RF2 tombstone-deletes a slice of
    originals — each an atomic MERGE commit — and the warehouse query
    (monthly GMV) over the resulting state must match DuckDB computed on
    (orders ∪ inserted) − deleted. This is the write-path twin of the
    read-path oracle gate: snapshot isolation, PK merge, and delete
    semantics all participate.
    """
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.tables import table

    path = str(tmp_path / "orders_store")
    o = table(spark, SF_DIR, "orders").withColumn("is_delete", F.lit(0))

    # initial load (version 1 of every PK)
    table_store.merge_upsert(
        spark, o, path, pk="o_orderkey", version_col="o_orderkey"
    )

    # RF1: insert 1% new orders (fresh keys above the current max)
    mx = o.agg(F.max("o_orderkey")).collect()[0][0]
    rf1 = (
        o.where(F.col("o_orderkey") % 100 == 7)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(mx + 1))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
    )
    table_store.merge_upsert(
        spark, rf1, path, pk="o_orderkey", version_col="o_orderkey"
    )

    # RF2: delete the originals ending in 13 (tombstone rows win the merge)
    rf2 = o.where(F.col("o_orderkey") % 100 == 13).withColumn(
        "is_delete", F.lit(1)
    )
    table_store.merge_upsert(
        spark,
        rf2,
        path,
        pk="o_orderkey",
        version_col="is_delete",  # tombstone outranks the stored row
        delete_when=F.col("is_delete") == 1,
    )

    got = (
        table_store.read_state(spark, path)
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("order_ct"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("gmv_cents"),
        )
        .toPandas()
        .sort_values("month")
        .reset_index(drop=True)
    )
    exp = duck.execute(
        """
        WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        state AS (
          SELECT o_orderdate, o_totalprice FROM orders
          WHERE o_orderkey % 100 <> 13
          UNION ALL
          SELECT o_orderdate, o_totalprice + 1.0 FROM orders
          WHERE o_orderkey % 100 = 7
        )
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS order_ct,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS gmv_cents
        FROM state GROUP BY 1 ORDER BY 1
        """
    ).fetchdf()
    assert got.month.tolist() == exp.month.tolist()
    assert got.order_ct.tolist() == exp.order_ct.tolist()
    assert got.gmv_cents.tolist() == exp.gmv_cents.tolist()
    # three atomic versions: load, RF1, RF2 (GC keeps current+previous)
    assert len(table_store.list_versions(path)) >= 2


def test_compact_shrinks_files_and_clusters_ranges(spark, tmp_path):
    """OPTIMIZE maintenance: compaction must (1) leave the table content
    bit-identical, (2) cut the data-file count to the target, (3) give the
    files DISJOINT cluster-column ranges — the precondition for parquet
    footer-based file pruning on point/range reads — and (4) run as an
    ordinary optimistic commit (version advances, old state retained for
    the reader grace period)."""
    import glob

    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.tables import table

    path = str(tmp_path / "cust_store")
    c = table(spark, SF_DIR, "customer")
    # a micro-batch-shaped table: explicit repartition(24) survives AQE
    # (only ENSURE_REQUIREMENTS exchanges coalesce), giving 24 small files
    table_store.commit(c.repartition(24), path)
    before_files = glob.glob(
        f"{path}/{table_store.current_version(path)}/*.parquet"
    )
    assert len(before_files) > 4
    before = sorted(
        tuple(r) for r in table_store.read_state(spark, path).collect()
    )

    v = table_store.compact(spark, path, target_files=4, cluster_col="c_custkey")
    assert table_store.current_version(path) == v
    files = glob.glob(f"{path}/{v}/*.parquet")
    assert 0 < len(files) <= 4, files
    after = sorted(
        tuple(r) for r in table_store.read_state(spark, path).collect()
    )
    assert after == before  # pure re-layout

    # disjoint per-file key ranges = file-level pruning is possible
    ranges = []
    for f in files:
        pf = spark.read.parquet(f).agg(
            F.min("c_custkey"), F.max("c_custkey"), F.count("*")
        ).collect()[0]
        if pf[2]:
            ranges.append((pf[0], pf[1]))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges


def test_zorder_compact_bounds_both_dimensions(spark, tmp_path):
    """ZORDER layout: every output file must cover a small RECTANGLE in
    (custkey, orderdate) space — both dimensions split — whereas a linear
    sort on one column leaves the other's per-file range at ~100%.
    Content stays identical and the commit contract holds."""
    import glob

    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.tables import table

    path = str(tmp_path / "orders_store")
    o = table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey",
        F.unix_date(F.to_date("o_orderdate")).alias("od")
    )
    table_store.commit(o.repartition(16), path)
    before = sorted(tuple(r) for r in table_store.read_state(spark, path).collect())

    v = table_store.compact_zorder(
        spark, path, "o_custkey", "od", target_files=8
    )
    after = sorted(tuple(r) for r in table_store.read_state(spark, path).collect())
    assert after == before

    g = spark.read.parquet(f"{path}/{v}").agg(
        F.max("o_custkey") - F.min("o_custkey"),
        F.max("od") - F.min("od"),
    ).collect()[0]
    areas, yfrac = [], []
    for f in glob.glob(f"{path}/{v}/*.parquet"):
        r = spark.read.parquet(f).agg(
            F.max("o_custkey") - F.min("o_custkey"),
            F.max("od") - F.min("od"),
            F.count("*"),
        ).collect()[0]
        if r[2]:
            areas.append((r[0] / g[0]) * (r[1] / g[1]))
            yfrac.append(r[1] / g[1])
    assert len(areas) >= 4
    # each file's bounding box is a fraction of the plane, on average well
    # under the 1.0 a one-column sort would give the unsorted dimension
    assert sum(areas) / len(areas) < 0.35, areas
    # and the SECOND dimension is genuinely split too
    assert sum(1 for y in yfrac if y < 0.8) >= len(yfrac) // 2, yfrac
