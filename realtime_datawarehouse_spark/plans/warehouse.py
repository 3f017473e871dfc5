"""Layered warehouse composition — the reference's full cross-job dataflow
(SURVEY.md §3.4) recomposed as one batch pipeline over parquet layers.

    ODS   raw envelopes/log lines     (topic_db / topic_log stand-ins)
    DIM   config-routed dim tables    (DimApp → Phoenix ⇒ parquet dims)
    DWD   cleaned fact tables         (cart_add, order_detail, page_log)
    DWS   summaries                   (cart_uu, sku_order, trade_daily)
    ADS   serving aggregates          (gmv) over DWS

Every layer is written to ``<out_dir>/<layer>/<table>`` and re-READ by the
next layer, as the reference's jobs meet at Kafka topics.

The stream topology (``streaming/pipelines.py``) builds its DWD
boundaries with :func:`dwd_cart_add` and :func:`dwd_page_log`. It serves
:func:`dws_cart_add_uu_daily`'s table through its own daily dedup and
windows (``dropDuplicatesWithinWatermark`` rejects batch DataFrames);
tests/test_streaming_pipelines.py pins both forms equal on one input.

Every table a layer reads back is read with its schema as declared here
(``_SCHEMAS``), never inferred: the paper's DWD jobs "declare fixed
schemas via DDL over the same topics" (PAPER.md §1.1 item 2), and an
inferred read costs a schema-discovery Spark job per table, which in a
warm pass over a few thousand rows takes longer than the read itself.
Only the source fixtures (``tables.table``) are still inferred, as their
physical timestamp type varies.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
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


# The schema of every table this module writes and reads back, as its
# builder writes it (a StructType or DDL, as ``DataFrameReader.schema``
# takes either); tests/test_warehouse.py checks each against the files.
_SCHEMAS: dict[tuple[str, str], StructType | str] = {
    ("ods", "topic_db_dims"): maxwell.MAXWELL_SCHEMA,
    ("ods", "topic_db_cart"): maxwell.MAXWELL_SCHEMA,
    ("ods", "topic_log"): "value string",
    ("dwd", "order_detail"): (
        "order_id bigint, detail_id int, sku_id bigint, user_id bigint, "
        "create_time timestamp, split_original_amount double, dt date"
    ),
    ("dwd", "cart_add"): (
        "id string, user_id string, sku_id string, sku_num_delta int, "
        "change_type string, event_time timestamp"
    ),
    ("dws", "trade_daily"): "dt date, order_amount double, order_uu_ct bigint",
}


def _path(out_dir: str, layer: str, name: str) -> str:
    return os.path.join(out_dir, layer, name)


def _read(spark: SparkSession, out_dir: str, layer: str, name: str) -> DataFrame:
    """Read back a table this module wrote, by its declared schema."""
    return spark.read.schema(_SCHEMAS[layer, name]).parquet(
        _path(out_dir, layer, name)
    )


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


def dwd_cart_add(env: DataFrame) -> DataFrame:
    """DwdTradeCartAdd (rt/app/dwd/db/DwdTradeCartAdd.java): Maxwell
    envelopes (``maxwell.MAXWELL_SCHEMA``) → ETL filter → ``cart_info``
    rows → cart-add facts with quantity delta and ``event_time`` (the
    epoch-seconds ``ts`` as a timestamp, the W4 seconds→timestamp fixup)."""
    env = maxwell.etl_filter(env).where(F.col("table") == "cart_info")
    return maxwell.cart_add_delta(
        env.withColumn(
            "event_time", F.timestamp_seconds(F.col("ts").cast("long"))
        ),
        extra_cols=("event_time",),
    )


def dwd_page_log(page: DataFrame) -> DataFrame:
    """DwdTrafficBaseLogSplit's page topic as flat facts: the ``page``
    branch of ``log_events.split_log`` → the device dimensions (mid, vc,
    ch, ar, is_new), the page fields (page_id, last_page_id, during_time)
    and the millisecond ``ts`` as ``event_time``."""
    common = ("mid", "vc", "ch", "ar", "is_new")
    fields = ("page_id", "last_page_id", "during_time")
    return page.select(
        *[F.col(f"common.{c}").alias(c) for c in common],
        *[F.col(f"page.{c}").alias(c) for c in fields],
        F.timestamp_millis(F.col("ts")).alias("event_time"),
    )


def dws_cart_add_uu_daily(cart: DataFrame) -> DataFrame:
    """DwsTradeCartAddUuWindow read per day, over :func:`dwd_cart_add`
    facts: the distinct cart-add users of each event day as ``(dt string,
    cart_add_uu bigint)``, the columns the stream topology serves as
    ``ads_cart_daily``."""
    return cart.groupBy(
        F.date_format("event_time", "yyyy-MM-dd").alias("dt")
    ).agg(F.countDistinct("user_id").alias("cart_add_uu"))


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
    env = _read(spark, out_dir, "ods", "topic_db_dims")
    config = config_from_rows(spark, ROUTER_CONFIG_ROWS)
    state = config_router.upsert_state(config_router.route(env, config))
    frames = config_router.split_by_sink(
        state, [row["sink_table"] for row in ROUTER_CONFIG_ROWS]
    )
    _write_tables(spark, out_dir, "dim", {
        sink: (lambda df=df: df) for sink, df in frames.items()
    })


def build_dwd(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """DWD: cleaned facts. cart_add from the Maxwell stream; order_detail
    from the J1 fact join; page_log (and the unparseable lines, ``dirty``)
    from the tolerant log split."""

    def cart_add() -> DataFrame:
        # the envelope ts is an epoch-seconds stand-in (orderkey here; real
        # feeds carry true epochs), so event_time spans the first days of 1970
        return dwd_cart_add(_read(spark, out_dir, "ods", "topic_db_cart"))

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
    raw = _read(spark, out_dir, "ods", "topic_log")
    clean, dirty = log_events.parse_with_dirty_routing(raw)

    _write_tables(spark, out_dir, "dwd", {
        "cart_add": cart_add,
        "order_detail": order_detail,
        "page_log": lambda: dwd_page_log(log_events.split_log(clean)["page"]),
        "dirty": lambda: dirty,
    })


def build_dws(spark: SparkSession, out_dir: str) -> None:
    """DWS: summaries over DWD facts only (never back to ODS/source)."""
    # both order_detail summaries share one read
    od = _read(spark, out_dir, "dwd", "order_detail")

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

    _write_tables(spark, out_dir, "dws", {
        "sku_order": sku_order,
        "trade_daily": trade_daily,
        "cart_uu": lambda: dws_cart_add_uu_daily(
            _read(spark, out_dir, "dwd", "cart_add")
        ),
    })


def ads_gmv(spark: SparkSession, out_dir: str, dt: str) -> float:
    """ADS /gmv over the DWS layer (pushed to the store like the reference
    pushes into ClickHouse — here one filtered sum over DWS ``trade_daily``).
    No temp view: concurrent callers on different ``out_dir``s stay apart."""
    daily = _read(spark, out_dir, "dws", "trade_daily")
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
