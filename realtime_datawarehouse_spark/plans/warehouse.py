"""Layered warehouse composition — the reference's full cross-job dataflow
(SURVEY.md §3.4) recomposed as one batch pipeline over parquet layers.

    ODS   raw envelopes/log lines     (topic_db / topic_log stand-ins)
    DIM   config-routed dim tables    (DimApp → Phoenix ⇒ parquet dims)
    DWD   cleaned fact tables         (cart_add, order_detail, page_log)
    DWS   windowed/daily summaries    (cart UU, sku order, province amount)
    ADS   serving aggregates          (gmv, per-province) over DWS

Every layer is written to ``<out_dir>/<layer>/<table>`` and re-READ by the
next layer (process isolation exactly like the reference's Kafka topic
boundaries — each hop is replayable, restartable, and independently
scalable). In production each write is a Delta/Iceberg table (or a Kafka
topic in parity mode) and each arrow is its own Structured Streaming query;
the operator expressions are identical (streaming/pipelines.py).

Scale notes: every table is one unpartitioned parquet table. DWD
``order_detail`` carries its event date as a ``dt`` column: no consumer
prunes on it (DWS aggregates the whole table, ADS reads DWS), so a
directory per date would only add a file per date to write and a
partition-discovery job to read back. A layer's tables do not read each
other, so each layer call submits its writes together (``_write_tables``)
and costs its slowest write, not the sum. Nothing in the pipeline
collects to the driver.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from realtime_datawarehouse_spark.operators import config_router
from realtime_datawarehouse_spark.plans.cdc_pipelines import (
    ROUTER_CONFIG_ROWS,
    _cart_envelopes,
    _dim_envelopes,
    _log_json_lines,
)
from realtime_datawarehouse_spark.sources import log_events, maxwell
from realtime_datawarehouse_spark.sources.debezium import config_from_rows
from realtime_datawarehouse_spark.tables import table


def _path(out_dir: str, layer: str, name: str) -> str:
    return os.path.join(out_dir, layer, name)


def _write_tables(
    spark: SparkSession,
    out_dir: str,
    layer: str,
    builders: dict[str, Callable[[], DataFrame]],
) -> None:
    """Build and overwrite ``<out_dir>/<layer>/<name>`` for every builder,
    all at once: one thread per table, each carrying the caller's job group
    and local properties. Building runs on the thread too, as it costs
    driver-side analysis. Returns when every write has finished,
    re-raising the first failure in ``builders`` order."""

    def write(name: str, build: Callable[[], DataFrame]) -> None:
        build().write.mode("overwrite").parquet(_path(out_dir, layer, name))

    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(write), name, build)
            for name, build in builders.items()
        ]
    for f in futures:
        f.result()


def build_ods(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """ODS: land the raw wire formats (envelope structs + raw JSON lines)."""
    _write_tables(spark, out_dir, "ods", {
        "topic_db_cart": partial(_cart_envelopes, spark, sf_dir),
        "topic_db_dims": partial(_dim_envelopes, spark, sf_dir),
        "topic_log": partial(_log_json_lines, spark, sf_dir),
    })


def build_dim(spark: SparkSession, out_dir: str) -> None:
    """DIM: config-driven routing + PK upsert-collapse per sink table
    (DimApp; one output table per config row, like K4/K5)."""
    env = spark.read.parquet(_path(out_dir, "ods", "topic_db_dims"))
    config = config_from_rows(spark, ROUTER_CONFIG_ROWS)
    state = config_router.upsert_state(config_router.route(env, config))

    def sink_table(sink: str) -> DataFrame:
        return state.where(F.col("sink_table") == sink).select("pk", "data")

    _write_tables(spark, out_dir, "dim", {
        row["sink_table"]: partial(sink_table, row["sink_table"])
        for row in ROUTER_CONFIG_ROWS
    })


def build_dwd(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """DWD: cleaned facts. cart_add from the Maxwell stream; order_detail
    from the J1 fact join; page_log (and the unparseable lines, ``dirty``)
    from the tolerant log split."""

    def cart_add() -> DataFrame:
        # the envelope ts (epoch-seconds stand-in = orderkey here; real
        # feeds carry true epochs) stays a plain column
        env = spark.read.parquet(_path(out_dir, "ods", "topic_db_cart"))
        return maxwell.cart_add_delta(maxwell.etl_filter(env))

    def order_detail() -> DataFrame:
        # ``dt`` is a date column, the type DWS trade_daily groups by and
        # ADS filters on
        l, o = table(spark, sf_dir, "lineitem"), table(spark, sf_dir, "orders")
        return l.join(o, l.l_orderkey == o.o_orderkey).select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("detail_id"),
            F.col("l_partkey").alias("sku_id"),
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("create_time"),
            (F.col("l_quantity") * F.col("l_extendedprice")).alias(
                "split_original_amount"
            ),
            F.to_date("o_orderdate").alias("dt"),
        )

    # page_log and dirty share one parse of the raw log lines
    raw = spark.read.parquet(_path(out_dir, "ods", "topic_log"))
    clean, dirty = log_events.parse_with_dirty_routing(raw)

    def page_log() -> DataFrame:
        return log_events.split_log(clean)["page"].select(
            F.col("common.mid").alias("mid"),
            F.col("page.page_id").alias("page_id"),
            F.col("page.during_time").alias("during_time"),
            F.timestamp_millis(F.col("ts")).alias("ts"),
        )

    _write_tables(spark, out_dir, "dwd", {
        "cart_add": cart_add,
        "order_detail": order_detail,
        "page_log": page_log,
        "dirty": lambda: dirty,
    })


def build_dws(spark: SparkSession, out_dir: str) -> None:
    """DWS: summaries over DWD facts only (never back to ODS/source)."""
    # both order_detail summaries share one read (and its schema job)
    od = spark.read.parquet(_path(out_dir, "dwd", "order_detail"))

    def sku_order() -> DataFrame:
        return od.groupBy("sku_id").agg(
            F.countDistinct("order_id").alias("order_ct"),
            F.sum("split_original_amount").alias("original_amount"),
        )

    def trade_daily() -> DataFrame:
        return od.groupBy("dt").agg(
            F.sum("split_original_amount").alias("order_amount"),
            F.countDistinct("user_id").alias("order_uu_ct"),
        )

    def cart_uu() -> DataFrame:
        cart = spark.read.parquet(_path(out_dir, "dwd", "cart_add"))
        w = Window.partitionBy("user_id").orderBy("id")
        return (
            cart.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .groupBy()
            .agg(F.count("*").alias("cart_uu_ct"))
        )

    _write_tables(spark, out_dir, "dws", {
        "sku_order": sku_order,
        "trade_daily": trade_daily,
        "cart_uu": cart_uu,
    })


def ads_gmv(spark: SparkSession, out_dir: str, dt: str) -> float:
    """ADS /gmv over the DWS layer (pushed to the store like the reference
    pushes into ClickHouse — here one filtered sum over DWS ``trade_daily``).
    No temp view: concurrent callers on different ``out_dir``s stay apart."""
    daily = spark.read.parquet(_path(out_dir, "dws", "trade_daily"))
    row = daily.where(F.col("dt") == dt).agg(
        F.sum("order_amount").alias("gmv")
    ).collect()[0]
    return float(row.gmv or 0.0)


def run_warehouse(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    """Run the full layered pipeline; returns {layer/table: path}."""
    build_ods(spark, sf_dir, out_dir)
    build_dim(spark, out_dir)
    build_dwd(spark, sf_dir, out_dir)
    build_dws(spark, out_dir)
    paths = {}
    for layer in ("ods", "dim", "dwd", "dws"):
        base = os.path.join(out_dir, layer)
        for name in sorted(os.listdir(base)):
            paths[f"{layer}/{name}"] = os.path.join(base, name)
    return paths
