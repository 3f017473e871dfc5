"""End-to-end streaming pipeline tests over literal wire-format inputs
(golden Maxwell/log lines → file stream → pipeline → memory sink)."""

from __future__ import annotations

import json
import shutil

import pytest

from realtime_datawarehouse_spark.plans import warehouse
from realtime_datawarehouse_spark.sources import maxwell
from realtime_datawarehouse_spark.streaming import jobs, pipelines


def _write_lines(spark, d, batch):
    """Append one batch of (value: string) lines to ``d`` as one parquet file."""
    # one slice, not coalesce(1): coalescing the default parallelism's
    # Python slices into one task costs ~2 s per tiny file
    spark.sparkContext.parallelize([(s,) for s in batch], 1).toDF(
        "value string"
    ).write.mode("append").parquet(d)


def _append_in_order(df, d):
    """Append ``df`` to ``d`` as one parquet file, stamped one second after
    the newest file already there. The file source takes its files in
    modification-time order, so a stream reads them in write order
    without the writer waiting for the clock to tick between files."""
    import os

    prior = {}
    if os.path.isdir(d):
        prior = {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
    df.coalesce(1).write.mode("append").parquet(d)
    if prior:
        stamp = max(prior.values()) + 1
        for f in os.listdir(d):
            if f.endswith(".parquet") and f not in prior:
                os.utime(os.path.join(d, f), (stamp, stamp))


def _lines_stream(spark, d):
    """The lines under ``d`` as a stream, one file per trigger."""
    return spark.readStream.schema("value string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)


def _stream_of_lines(spark, tmp_path, lines_batches):
    """Write each batch of (value: string) lines as one parquet file."""
    d = str(tmp_path)
    for batch in lines_batches:
        _write_lines(spark, d, batch)
    return _lines_stream(spark, d)


CART_LINES_B1 = [
    '{"database":"g","table":"cart_info","type":"insert","ts":"1704067200",'
    '"data":{"id":"1","user_id":"u1","sku_id":"s1","sku_num":"2"}}',
    '{"database":"g","table":"cart_info","type":"insert","ts":"1704067201",'
    '"data":{"id":"2","user_id":"u2","sku_id":"s1","sku_num":"1"}}',
    '{"database":"g","table":"cart_info","type":"bootstrap-start","ts":"1704067202","data":{}}',
]
CART_LINES_B2 = [
    # same user u1 same day → not a new UU; u3 new
    '{"database":"g","table":"cart_info","type":"update","ts":"1704067210",'
    '"old":{"sku_num":"2"},"data":{"id":"1","user_id":"u1","sku_id":"s1","sku_num":"5"}}',
    '{"database":"g","table":"cart_info","type":"insert","ts":"1704067211",'
    '"data":{"id":"3","user_id":"u3","sku_id":"s2","sku_num":"1"}}',
]
# append-mode windows emit in the batch AFTER the watermark passes their end;
# the cart pipeline's watermark is the 26h day-TTL delay (daily-dedup state
# eviction), so heartbeats 3 days out advance the watermark past day 1
CART_HEARTBEATS = [
    ['{"database":"g","table":"cart_info","type":"insert","ts":"1704326400",'
     '"data":{"id":"90","user_id":"u9","sku_id":"s9","sku_num":"1"}}'],
    ['{"database":"g","table":"cart_info","type":"insert","ts":"1704326401",'
     '"data":{"id":"91","user_id":"u9","sku_id":"s9","sku_num":"1"}}'],
]


def _cart_uu_windows(raw):
    """DwsTradeCartAddUuWindow over raw topic_db lines, composed as the
    trade column's first two hops compose it."""
    return pipelines._cart_add_uu_windows(
        warehouse.dwd_cart_add(maxwell.parse_envelope(raw))
    )


def test_cart_add_uu_pipeline(spark, tmp_path):
    raw = _stream_of_lines(
        spark, tmp_path, [CART_LINES_B1, CART_LINES_B2] + CART_HEARTBEATS
    )
    q = jobs.run_to_memory(
        _cart_uu_windows(raw), "t_cart_uu", "append"
    )
    q.awaitTermination()
    rows = spark.table("t_cart_uu").collect()
    # u1@:00 u2@:01 in window [:00,:10); u3@:11 in [:10,:20) — the second
    # window may be withheld by the watermark, the first must have closed
    by_stt = {r.stt: r.cart_add_uu_ct for r in rows}
    assert by_stt["2024-01-01 00:00:00"] == 2


# neither row is a cart add: an order_info row carrying a user_id, and a
# cart_info update that LOWERS sku_num
CART_NOT_ADDS = [
    '{"database":"g","table":"order_info","type":"insert","ts":"1704067202",'
    '"data":{"id":"7","user_id":"u7","total_amount":"10.0"}}',
    '{"database":"g","table":"cart_info","type":"update","ts":"1704067203",'
    '"old":{"sku_num":"5"},"data":{"id":"8","user_id":"u8","sku_id":"s1","sku_num":"2"}}',
]


def test_cart_add_uu_counts_only_cart_add_facts(spark, tmp_path):
    """DwsTradeCartAddUuWindow reads dwd_trade_cart_add: a user counts
    only through a cart-add fact, not through any topic_db row that
    carries a user_id."""
    raw = _stream_of_lines(
        spark, tmp_path, [CART_LINES_B1 + CART_NOT_ADDS] + CART_HEARTBEATS
    )
    q = jobs.run_to_memory(
        _cart_uu_windows(raw), "t_cart_uu_facts", "append"
    )
    q.awaitTermination()
    by_stt = {
        r.stt: r.cart_add_uu_ct
        for r in spark.table("t_cart_uu_facts").collect()
    }
    assert by_stt["2024-01-01 00:00:00"] == 2  # u1 and u2 only


LOG_HEARTBEAT = (
    '{"common":{"mid":"hb"},"page":{"page_id":"good_list","last_page_id":"search",'
    '"item":"late heartbeat","item_type":"keyword"},"ts":1704153600000}'
)

LOG_LINES = [
    '{"common":{"mid":"m1"},"page":{"page_id":"good_list","last_page_id":"search",'
    '"item":"apple iphone case","item_type":"keyword"},"ts":1704067200000}',
    '{"common":{"mid":"m2"},"page":{"page_id":"good_list","last_page_id":"search",'
    '"item":"apple watch","item_type":"keyword"},"ts":1704067201000}',
    '{"common":{"mid":"m3"},"page":{"page_id":"home"},"ts":1704067215000}',
    "NOT JSON",
]


def test_keyword_window_pipeline(spark, tmp_path):
    raw = _stream_of_lines(
        spark, tmp_path, [LOG_LINES, [LOG_HEARTBEAT], [LOG_HEARTBEAT]]
    )
    q = jobs.run_to_memory(
        pipelines.dws_keyword_window(raw), "t_kw", "append"
    )
    q.awaitTermination()
    got = {(r.keyword, r.keyword_count) for r in spark.table("t_kw").collect()}
    # tokenized + exploded counts in the closed [:00, :10) window
    assert ("apple", 2) in got
    assert ("iphone", 1) in got
    assert ("watch", 1) in got


def test_log_split_streaming_branches(spark, tmp_path):
    raw = _stream_of_lines(spark, tmp_path, [LOG_LINES])
    branches = pipelines.dwd_log_split(raw)
    qs = {
        name: jobs.run_to_memory(df, f"t_split_{name}", "append")
        for name, df in branches.items()
    }
    for q in qs.values():
        q.awaitTermination()
    assert spark.table("t_split_page").count() == 3
    assert spark.table("t_split_dirty").count() == 1
    assert spark.table("t_split_err").count() == 0


def test_sku_order_window_pipeline_parity(spark, tmp_path):
    """Composed DWS trade job (stream-stream join → broadcast dim → window
    agg) must match the identical batch composition for watermark-closed
    windows."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.functions.compare import pround
    from realtime_datawarehouse_spark.streaming import jobs, pipelines
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR

    li = table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("sku_id"),
        F.col("l_extendedprice").alias("amount"),
        F.col("l_shipdate").alias("detail_ts"),
    )
    oi = table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("oi_order_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("order_ts"),
    )
    dim = table(spark, SF_DIR, "part").select(
        F.col("p_partkey").alias("sku_id"), F.col("p_brand").alias("brand")
    )
    li_dir, oi_dir = str(tmp_path / "li"), str(tmp_path / "oi")
    li.orderBy("detail_ts").coalesce(2).write.parquet(li_dir)
    oi.orderBy("order_ts").coalesce(2).write.parquet(oi_dir)

    out = pipelines.dws_sku_order_window(
        jobs.parquet_stream(spark, li_dir, li.schema),
        jobs.parquet_stream(spark, oi_dir, oi.schema),
        dim,
    )
    q = jobs.run_to_memory(out, "t_sku_win")
    q.awaitTermination()
    got = spark.table("t_sku_win").toPandas()

    band = F.expr("INTERVAL 200 days")
    batch = (
        li.join(
            oi,
            (F.col("order_id") == F.col("oi_order_id"))
            & (F.col("order_ts") >= F.col("detail_ts") - band)
            & (F.col("order_ts") <= F.col("detail_ts") + band),
        )
        .join(F.broadcast(dim), on="sku_id")
        .groupBy(F.window("detail_ts", "10 minutes"), "brand")
        .agg(F.count("*").alias("order_ct"), F.sum("amount").alias("order_amount"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            "brand",
            "order_ct",
            pround(F.col("order_amount")).alias("order_amount"),
        )
        .toPandas()
    )
    key = ["stt", "brand"]
    merged = got.merge(batch, on=key, suffixes=("_s", "_b"))
    # every emitted window must match the batch result exactly
    assert len(merged) == len(got)
    assert (merged.order_ct_s == merged.order_ct_b).all()
    assert (abs(merged.order_amount_s - merged.order_amount_b) < 1e-6).all()
    # completeness: after a stream-stream join with a time band, the window
    # operator's effective watermark lags by the band (multi-stateful
    # chaining) — every window older than max(ts) - band must have emitted
    import pandas as pd

    # the global watermark is the MIN across both source streams' max ts
    wm = min(
        pd.to_datetime(li.agg(F.max("detail_ts")).collect()[0][0]),
        pd.to_datetime(oi.agg(F.max("order_ts")).collect()[0][0]),
    )
    cutoff = (wm - pd.Timedelta(days=201)).strftime("%Y-%m-%d %H:%M:%S")
    closed = batch[batch.stt < cutoff]
    assert len(got) >= len(closed), (len(got), len(closed), len(batch))


def test_dim_router_stream_hot_reload(spark, tmp_path):
    """Config hot-reload: a dim registered between micro-batches starts
    routing from the NEXT batch (earlier envelopes for it are not replayed),
    and per-batch MERGE applies updates/deletes by newest ts."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.sources.debezium import config_from_rows
    from realtime_datawarehouse_spark.sources.maxwell import MAXWELL_SCHEMA
    from realtime_datawarehouse_spark.streaming import pipelines

    def env_rows(rows):
        return spark.createDataFrame(
            [
                ("gmall", tbl, typ, str(ts), None, data)
                for tbl, typ, ts, data in rows
            ],
            MAXWELL_SCHEMA,
        )

    in_dir = str(tmp_path / "envs")
    # batch 1: part p1 insert + supplier s1 insert (supplier NOT yet configured)
    env_rows(
        [
            ("part", "insert", 1, {"p_partkey": "1", "p_brand": "B1"}),
            ("supplier", "insert", 1, {"s_suppkey": "10", "s_name": "S-early"}),
        ]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    # batch 2: part p1 update (newer ts), part p2 insert+delete, supplier s2
    env_rows(
        [
            ("part", "update", 2, {"p_partkey": "1", "p_brand": "B1v2"}),
            ("part", "insert", 2, {"p_partkey": "2", "p_brand": "B2"}),
            ("part", "delete", 3, {"p_partkey": "2", "p_brand": "B2"}),
            ("supplier", "insert", 2, {"s_suppkey": "20", "s_name": "S-late"}),
        ]
    ).coalesce(1).write.mode("append").parquet(in_dir)

    part_cfg = {
        "source_table": "part", "sink_table": "dim_part",
        "sink_columns": "p_partkey,p_brand", "sink_pk": "p_partkey",
        "sink_extend": None,
    }
    sup_cfg = {
        "source_table": "supplier", "sink_table": "dim_supplier",
        "sink_columns": "s_suppkey,s_name", "sink_pk": "s_suppkey",
        "sink_extend": None,
    }
    calls = {"n": 0}

    def provider(s):
        calls["n"] += 1
        rows = [part_cfg] if calls["n"] == 1 else [part_cfg, sup_cfg]
        return config_from_rows(s, rows)

    out_dir = str(tmp_path / "dims")
    stream = (
        spark.readStream.schema(MAXWELL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        pipelines.dim_router_stream(stream, provider, out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from realtime_datawarehouse_spark.operators import table_store

    part_state = {
        r.pk: r.data["p_brand"]
        for r in table_store.read_state(spark, f"{out_dir}/dim_part").collect()
    }
    assert part_state == {"1": "B1v2"}  # update applied, p2 deleted
    sup_state = {
        r.pk: r.data["s_name"]
        for r in table_store.read_state(spark, f"{out_dir}/dim_supplier").collect()
    }
    # hot reload: only the supplier row from the batch AFTER registration
    assert sup_state == {"20": "S-late"}


def test_dim_router_stream_bucketed_parity(spark, tmp_path):
    """The deployment-scale dim layout (``buckets=N``, SCALE.md §20) must
    be a drop-in for the streaming dim router: identical final state
    across insert/update/delete micro-batches, with the sink snapshots
    actually hive-bucketed so each micro-batch MERGE rewrites only the
    buckets it touches instead of the whole dim table."""
    import os

    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.sources.debezium import config_from_rows
    from realtime_datawarehouse_spark.sources.maxwell import MAXWELL_SCHEMA
    from realtime_datawarehouse_spark.streaming import pipelines

    def env_rows(rows):
        return spark.createDataFrame(
            [("gmall", t, typ, str(ts), None, d) for t, typ, ts, d in rows],
            MAXWELL_SCHEMA,
        )

    in_dir, out_dir = str(tmp_path / "envs"), str(tmp_path / "dims")
    env_rows(
        [("part", "insert", 1, {"p_partkey": "1", "p_brand": "B1"}),
         ("part", "insert", 1, {"p_partkey": "2", "p_brand": "B2"})]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    env_rows(
        [("part", "update", 2, {"p_partkey": "1", "p_brand": "B1v2"}),
         ("part", "delete", 2, {"p_partkey": "2", "p_brand": "B2"})]
    ).coalesce(1).write.mode("append").parquet(in_dir)

    cfg = [{
        "source_table": "part", "sink_table": "dim_part",
        "sink_columns": "p_partkey,p_brand", "sink_pk": "p_partkey",
        "sink_extend": None,
    }]
    stream = (
        spark.readStream.schema(MAXWELL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        pipelines.dim_router_stream(
            stream, lambda s: config_from_rows(s, cfg), out_dir, buckets=8
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dim = f"{out_dir}/dim_part"
    state = {
        r.pk: r.data["p_brand"]
        for r in table_store.read_state(spark, dim).collect()
    }
    assert state == {"1": "B1v2"}  # same as the flat-layout tests above
    vdir = os.path.join(dim, table_store.current_version(dim))
    assert table_store._dir_is_bucketed(vdir)


def test_dim_router_restart_resumes_merge_state(spark, tmp_path):
    """Kill/restart the dim-router stream between micro-batches: the
    checkpoint must resume at the next unprocessed file, re-MERGE nothing
    (no duplicate application), and the versioned store must carry the
    final collapsed state."""
    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.sources.debezium import config_from_rows
    from realtime_datawarehouse_spark.sources.maxwell import MAXWELL_SCHEMA
    from realtime_datawarehouse_spark.streaming import pipelines

    def env_rows(rows):
        return spark.createDataFrame(
            [("gmall", t, typ, str(ts), None, d) for t, typ, ts, d in rows],
            MAXWELL_SCHEMA,
        )

    in_dir, out_dir, ckpt = (
        str(tmp_path / "envs"), str(tmp_path / "dims"), str(tmp_path / "ckpt")
    )
    cfg = [{
        "source_table": "part", "sink_table": "dim_part",
        "sink_columns": "p_partkey,p_brand", "sink_pk": "p_partkey",
        "sink_extend": None,
    }]

    def provider(s):
        return config_from_rows(s, cfg)

    def run_once():
        stream = (
            spark.readStream.schema(MAXWELL_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            pipelines.dim_router_stream(stream, provider, out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: two inserts, then the stream stops (availableNow drains)
    env_rows(
        [("part", "insert", 1, {"p_partkey": "1", "p_brand": "B1"}),
         ("part", "insert", 1, {"p_partkey": "2", "p_brand": "B2"})]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run_once()
    v_after_1 = table_store.current_version(f"{out_dir}/dim_part")

    # phase 2: a newer update for pk 1 + a delete for pk 2, then restart
    env_rows(
        [("part", "update", 2, {"p_partkey": "1", "p_brand": "B1v2"}),
         ("part", "delete", 2, {"p_partkey": "2", "p_brand": "B2"})]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run_once()

    state = {
        r.pk: r.data["p_brand"]
        for r in table_store.read_state(spark, f"{out_dir}/dim_part").collect()
    }
    assert state == {"1": "B1v2"}
    # restart processed only the NEW file: exactly one more commit
    v_after_2 = table_store.current_version(f"{out_dir}/dim_part")
    assert v_after_1 != v_after_2
    n1, n2 = int(v_after_1[2:]), int(v_after_2[2:])
    assert n2 == n1 + 1, (v_after_1, v_after_2)


def test_streaming_corpus_ingest_parity(spark, tmp_path):
    """Streaming corpus curation (parse → quality filter → exact dedup
    within watermark) must keep exactly the batch-computed set: quality
    keepers, first arrival per distinct text."""
    import json as _json

    from realtime_datawarehouse_spark.operators import textops
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR

    docs = table(spark, SF_DIR, "documents").limit(200).collect()
    base = "2024-01-01 00:00:%02d"

    def line(doc_id, text, i):
        return _json.dumps(
            {"doc_id": doc_id, "text": text, "event_time": base % (i % 60)}
        )

    # batch 1: first 100 docs; batch 2: docs 100-200 PLUS exact duplicates
    # of the first 5 texts under new doc_ids (must be dropped), plus a
    # corrupt line (must route away silently)
    b1 = [line(r.doc_id, r.text, i) for i, r in enumerate(docs[:100])]
    b2 = [line(r.doc_id, r.text, i) for i, r in enumerate(docs[100:])]
    b2 += [line(90000 + i, docs[i].text, i) for i in range(5)]
    b2 += ["NOT JSON"]
    raw = _stream_of_lines(spark, tmp_path, [b1, b2])

    q = jobs.run_to_memory(
        pipelines.streaming_corpus_ingest(raw), "t_ingest", "append"
    )
    q.awaitTermination()
    got = spark.table("t_ingest").toPandas()

    exp_keep = {
        r.doc_id
        for r in spark.createDataFrame(docs)
        .where(textops.quality_keep("text") == 1)
        .select("doc_id")
        .collect()
    }
    assert set(got.doc_id) == exp_keep  # originals kept, resends dropped
    assert not got.duplicated("content_hash").any()
    assert (got.doc_id < 90000).all()


# --- §3.4 multi-hop graph: log split → UV detail → channel DWS -----------

GRAPH_LINES_B1 = [
    # day-1 session entries (last_page_id absent ⇒ session entry)
    '{"common":{"mid":"m1","vc":"v1","ch":"app","ar":"110000","is_new":"1"},'
    '"page":{"page_id":"home"},"ts":1704067200000}',
    '{"common":{"mid":"m2","vc":"v1","ch":"web","ar":"110000","is_new":"0"},'
    '"page":{"page_id":"home"},"ts":1704067201000}',
    # m1 again same day, entry page → must dedup at the UV stage
    '{"common":{"mid":"m1","vc":"v1","ch":"app","ar":"110000","is_new":"1"},'
    '"page":{"page_id":"home"},"ts":1704067203000}',
    # non-entry page view → filtered before UV
    '{"common":{"mid":"m3","vc":"v2","ch":"app","ar":"120000","is_new":"0"},'
    '"page":{"page_id":"good_list","last_page_id":"home"},"ts":1704067204000}',
    "NOT JSON",  # dirty branch, must not kill the graph
]
GRAPH_LINES_B2 = [
    # second micro-batch, still day 1: new mid in the second window
    '{"common":{"mid":"m4","vc":"v2","ch":"web","ar":"120000","is_new":"1"},'
    '"page":{"page_id":"home"},"ts":1704067212000}',
    # m2 re-entry same day → dedup
    '{"common":{"mid":"m2","vc":"v1","ch":"web","ar":"110000","is_new":"0"},'
    '"page":{"page_id":"home"},"ts":1704067213000}',
]
# two day-4 heartbeats with DISTINCT mids: both survive the UV dedup, so
# each becomes its own file on the uv boundary — the first advances the
# DWS watermark past day 1, the second's micro-batch emits the closed
# day-1 windows (append-mode emission happens on the batch AFTER the
# watermark advance)
GRAPH_HEARTBEATS = [
    ['{"common":{"mid":"hb1","vc":"v9","ch":"hb","ar":"9","is_new":"0"},'
     '"page":{"page_id":"home"},"ts":1704326400000}'],
    ['{"common":{"mid":"hb2","vc":"v9","ch":"hb","ar":"9","is_new":"0"},'
     '"page":{"page_id":"home"},"ts":1704326401000}'],
]


def _traffic_windows_batch(spark, lines):
    """The traffic column as one batch query over ``lines``: parse → entry
    pages → first view per (mid, day) → 10 s tumbling UV count per
    dimension combination, as a set of (stt, vc, ch, ar, is_new, uv_ct)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.sources import log_events

    raw_b = spark.createDataFrame([(s,) for s in lines], "value string")
    clean, _ = log_events.parse_with_dirty_routing(raw_b)
    page = clean.where(~F.col("start").isNotNull())
    entry = page.where(F.col("page.last_page_id").isNull())
    uv = (
        entry.select(
            F.col("common.mid").alias("mid"),
            F.col("common.vc").alias("vc"),
            F.col("common.ch").alias("ch"),
            F.col("common.ar").alias("ar"),
            F.col("common.is_new").alias("is_new"),
            F.timestamp_millis(F.col("ts")).alias("event_time"),
        )
        .withColumn("visit_date", F.to_date("event_time"))
        .groupBy("mid", "visit_date")
        .agg(
            F.min_by(
                F.struct("vc", "ch", "ar", "is_new", "event_time"),
                "event_time",
            ).alias("f")
        )
        .select("mid", "visit_date", "f.*")
    )
    return {
        (r.stt, r.vc, r.ch, r.ar, r.is_new, r.uv_ct)
        for r in uv.groupBy(
            F.window("event_time", "10 seconds"), "vc", "ch", "ar", "is_new"
        )
        .agg(F.count("*").alias("uv_ct"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            "vc", "ch", "ar", "is_new", "uv_ct",
        )
        .collect()
    }


def _cart_uu_batch(spark, lines):
    """Distinct cart-add users per day over ``lines`` as one batch query,
    {dt: uu}: each user's first cart add lands in exactly one window, so
    the closed windows of a day sum to this."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.sources import maxwell as mx

    env = mx.etl_filter(
        mx.parse_envelope(
            spark.createDataFrame([(s,) for s in lines], "value string")
        )
    ).where(F.col("table") == "cart_info")
    facts = mx.cart_add_delta(env, extra_cols=("ts",))
    return {
        r.dt: r.uu
        for r in facts.select(
            F.date_format(
                F.timestamp_seconds(F.col("ts").cast("long")), "yyyy-MM-dd"
            ).alias("dt"),
            "user_id",
        )
        .groupBy("dt")
        .agg(F.countDistinct("user_id").alias("uu"))
        .collect()
    }


def test_traffic_stream_graph_three_hop_parity(spark, tmp_path):
    """VERDICT r03 #5: SURVEY §3.4's left column as ONE running set of
    three chained streaming queries over shared storage boundaries —
    log split → dwd_traffic_page_log → UV detail → uv boundary → channel
    DWS — with batch parity at the final DWS output."""
    from realtime_datawarehouse_spark.operators import table_store as ts

    raw = _stream_of_lines(
        spark,
        tmp_path / "in",
        [GRAPH_LINES_B1, GRAPH_LINES_B2] + GRAPH_HEARTBEATS,
    )
    qs = pipelines.traffic_stream_graph(raw, str(tmp_path / "graph"))
    try:
        # drain in topological order: each stage consumes everything its
        # upstream committed before the next drain
        for q in qs:
            q.processAllAvailable()
    finally:
        for q in qs:
            q.stop()
    got = {
        (r.stt, r.vc, r.ch, r.ar, r.is_new, r.uv_ct)
        for r in ts.read_state(
            spark, str(tmp_path / "graph" / "dws_traffic_channel")
        ).collect()
        if r.stt.startswith("2024-01-01")
    }

    # batch parity over the same lines
    all_lines = GRAPH_LINES_B1 + GRAPH_LINES_B2 + sum(GRAPH_HEARTBEATS, [])
    expected = {
        w for w in _traffic_windows_batch(spark, all_lines)
        if w[0].startswith("2024-01-01")
    }
    assert expected, "fixture must produce day-1 windows"
    assert got == expected
    # and the graph deduped: m1/m2 appear once despite re-entries
    assert sum(c for (_, _, _, _, _, c) in got) == 3  # m1, m2, m4


def test_full_stream_topology_both_columns_shared_store(spark, tmp_path):
    """VERDICT r04 item 8: SURVEY §3.4's COMPLETE picture — the traffic
    and trade columns running CONCURRENTLY as six checkpointed streaming
    queries in one run, both columns' DWS/ADS outputs MERGE-upserted into
    the SAME versioned table store root, with batch parity asserted at
    both served tables, and the warehouse's batch functions equal to both
    DWD boundaries and the served cart-UU days."""
    from realtime_datawarehouse_spark.operators import table_store as ts

    log_raw = _stream_of_lines(
        spark,
        tmp_path / "in_log",
        [GRAPH_LINES_B1, GRAPH_LINES_B2] + GRAPH_HEARTBEATS,
    )
    db_raw = _stream_of_lines(
        spark,
        tmp_path / "in_db",
        [CART_LINES_B1, CART_LINES_B2] + CART_HEARTBEATS,
    )
    store = str(tmp_path / "store")
    cols = pipelines.full_stream_topology(
        log_raw, db_raw, str(tmp_path / "work"), store
    )
    qs = cols["traffic"] + cols["trade"]
    assert len(qs) == 6 and all(q.isActive for q in qs)
    try:
        # drain the two columns INTERLEAVED (t1, d1, t2, d2, t3, d3): every
        # stage still only consumes what its upstream committed, but both
        # columns make progress concurrently within each pass
        for pair in zip(cols["traffic"], cols["trade"]):
            for q in pair:
                q.processAllAvailable()
        # second pass so stage N+1 sees what stage N committed in pass 1
        for pair in zip(cols["traffic"], cols["trade"]):
            for q in pair:
                q.processAllAvailable()
    finally:
        for q in qs:
            q.stop()

    # --- traffic parity: served DWS table vs the batch composition
    traffic_served = {
        (r.stt, r.vc, r.ch, r.ar, r.is_new, r.uv_ct)
        for r in ts.read_state(
            spark, f"{store}/dws_traffic_channel"
        ).collect()
        if r.stt.startswith("2024-01-01")
    }
    all_lines = GRAPH_LINES_B1 + GRAPH_LINES_B2 + sum(GRAPH_HEARTBEATS, [])
    traffic_want = {
        w for w in _traffic_windows_batch(spark, all_lines)
        if w[0].startswith("2024-01-01")
    }
    assert traffic_want, "fixture must produce closed day-1 windows"
    assert traffic_served == traffic_want

    # --- trade parity: served ADS daily vs batch distinct users
    trade_served = {
        r.dt: r.cart_add_uu
        for r in ts.read_state(spark, f"{store}/ads_cart_daily").collect()
    }
    all_db = CART_LINES_B1 + CART_LINES_B2 + sum(CART_HEARTBEATS, [])
    trade_want = _cart_uu_batch(spark, all_db)
    assert trade_served["2024-01-01"] == trade_want["2024-01-01"] == 3
    for dt, uu in trade_served.items():
        assert uu <= trade_want[dt]

    # --- one definition: the batch functions over the same lines equal
    # both DWD boundaries, and the served ADS table on the day the
    # heartbeats closed
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.sources import log_events

    def lines(values):
        return spark.createDataFrame([(v,) for v in values], "value string")

    clean, _ = log_events.parse_with_dirty_routing(lines(all_lines))
    page_log = warehouse.dwd_page_log(log_events.split_log(clean)["page"])
    cart_add = warehouse.dwd_cart_add(maxwell.parse_envelope(lines(all_db)))
    closed = F.col("dt") == "2024-01-01"
    work = tmp_path / "work"
    for batch, streamed in (
        (page_log, spark.read.parquet(f"{work}/traffic/dwd_traffic_page_log")),
        (cart_add, spark.read.parquet(f"{work}/trade/dwd_cart_add")),
        (
            warehouse.dws_cart_add_uu_daily(cart_add).where(closed),
            ts.read_state(spark, f"{store}/ads_cart_daily").where(closed),
        ),
    ):
        streamed = streamed.select(batch.columns)
        assert batch.exceptAll(streamed).isEmpty()
        assert streamed.exceptAll(batch).isEmpty()


def test_full_stream_topology_restarts_from_checkpoints(spark, tmp_path):
    """Crash/restart resilience for the §3.4 full topology: all six
    queries are STOPPED after consuming only the first micro-batches,
    then relaunched against the same checkpoints/store — the file-source
    metadata logs, stateful-dedup state, and MERGE versions must resume
    so the final served tables equal the single-run batch parity (the
    reference's commented-out restart-strategy story, done for real)."""
    from realtime_datawarehouse_spark.operators import table_store as ts

    log_dir, db_dir = str(tmp_path / "in_log"), str(tmp_path / "in_db")
    work, store = str(tmp_path / "work"), str(tmp_path / "store")

    def run_pass(n_drains: int = 2):
        cols = pipelines.full_stream_topology(
            _lines_stream(spark, log_dir), _lines_stream(spark, db_dir),
            work, store,
        )
        qs = cols["traffic"] + cols["trade"]
        try:
            for _ in range(n_drains):
                for pair in zip(cols["traffic"], cols["trade"]):
                    for q in pair:
                        q.processAllAvailable()
        finally:
            for q in qs:
                q.stop()

    # phase 1: only the first micro-batch of each column, then STOP
    _write_lines(spark, log_dir, GRAPH_LINES_B1)
    _write_lines(spark, db_dir, CART_LINES_B1)
    run_pass()

    # phase 2: the rest arrives while the topology is DOWN; relaunch
    for b in [GRAPH_LINES_B2, *GRAPH_HEARTBEATS]:
        _write_lines(spark, log_dir, b)
    for b in [CART_LINES_B2, *CART_HEARTBEATS]:
        _write_lines(spark, db_dir, b)
    run_pass()

    # parity must equal the uninterrupted run's: traffic day-1 windows
    served = {
        (r.stt, r.vc, r.ch, r.ar, r.is_new, r.uv_ct)
        for r in ts.read_state(
            spark, f"{store}/dws_traffic_channel"
        ).collect()
        if r.stt.startswith("2024-01-01")
    }
    assert sum(c for *_, c in served) == 3  # m1, m2, m4 exactly once
    # trade day-1 distinct users, replayed-file dedup included
    trade = {
        r.dt: r.cart_add_uu
        for r in ts.read_state(spark, f"{store}/ads_cart_daily").collect()
    }
    all_db = CART_LINES_B1 + CART_LINES_B2 + sum(CART_HEARTBEATS, [])
    want = _cart_uu_batch(spark, all_db)
    assert trade["2024-01-01"] == want["2024-01-01"] == 3


def test_trade_stream_graph_three_hop_parity(spark, tmp_path):
    """§3.4's TRADE column as one running set of three chained streaming
    queries over storage boundaries — Maxwell facts → UU window → ADS
    daily MERGE into the table store — with batch parity at the served
    table: per-day cart-add UU equals the batch distinct-user count."""
    from realtime_datawarehouse_spark.operators import table_store as ts

    raw = _stream_of_lines(
        spark,
        tmp_path / "in",
        [CART_LINES_B1, CART_LINES_B2] + CART_HEARTBEATS,
    )
    store = str(tmp_path / "ads_store")
    qs = pipelines.trade_stream_graph(
        raw, str(tmp_path / "graph"), store_path=store
    )
    try:
        for q in qs:
            q.processAllAvailable()
    finally:
        for q in qs:
            q.stop()
    served = {
        r.dt: r.cart_add_uu for r in ts.read_state(spark, store).collect()
    }

    # batch parity: distinct cart-add users per day over the same lines
    # (each user's first event lands in exactly one window; summing the
    # closed windows per day = the day's distinct users)
    all_lines = CART_LINES_B1 + CART_LINES_B2 + sum(CART_HEARTBEATS, [])
    want = _cart_uu_batch(spark, all_lines)
    # day 1 must be fully closed (heartbeats advanced the watermark);
    # the heartbeat day itself may still be open
    assert served["2024-01-01"] == want["2024-01-01"] == 3
    for dt, uu in served.items():
        assert uu <= want[dt]


_T0, _DAY = 1704067200, 86_400  # 2024-01-01T00:00Z


def _entry_line(i: int, t_s: int) -> str:
    """A session-entry page view of mid ``m{i}`` at ``t_s`` (epoch s)."""
    return json.dumps({
        "common": {
            "mid": f"m{i}",
            "vc": f"v{i % 2}",
            "ch": ("app", "web")[i // 2 % 2],
            "ar": "110000",
            "is_new": str(int(i % 3 == 0)),
        },
        "page": {"page_id": "home"},
        "ts": t_s * 1000,
    })


def _log_backlog():
    """One raw file of session entries for 48 mids × 2 days (2 s apart, so
    10 windows a day holding 1-2 mids per dimension combination), then two
    heartbeat files with distinct mids 3 days after the last day."""
    days = [
        _entry_line(i, _T0 + d * _DAY + 2 * i)
        for d in (0, 1) for i in range(48)
    ]
    return [days] + [
        [_entry_line(100 + k, _T0 + 4 * _DAY + k)] for k in (0, 1)
    ]


def test_traffic_stream_graph_keeps_every_window_of_a_multi_day_backlog(
    spark, tmp_path
):
    """A multi-day backlog reaches the UV boundary as one batch that the
    UV hop writes as several files (one per state partition), each
    spanning both days. Every closed-day DWS window must still be served,
    equal to the batch computation: the DWS watermark must not pass rows
    of the same upstream batch that are still unread."""
    from realtime_datawarehouse_spark.operators import table_store as ts

    log_batches = _log_backlog()
    store = str(tmp_path / "store")
    qs = pipelines.traffic_stream_graph(
        _stream_of_lines(spark, tmp_path / "in", log_batches),
        str(tmp_path / "work"),
        store_path=store,
    )
    try:
        for q in qs:  # topological order
            q.processAllAvailable()
    finally:
        for q in qs:
            q.stop()

    closed = ("2024-01-01", "2024-01-02")
    served = {
        (r.stt, r.vc, r.ch, r.ar, r.is_new, r.uv_ct)
        for r in ts.read_state(spark, store).collect()
        if r.stt[:10] in closed
    }
    want = {
        w for w in _traffic_windows_batch(spark, sum(log_batches, []))
        if w[0][:10] in closed
    }
    assert len(want) > 20
    assert served == want


def _crash_batches():
    """Raw traffic files for the crash tests, fed one at a time: day-1
    entries of mids 0-47; day-1 re-entries of mids 12-23, which the UV
    hop's dedup state must drop, with day-2 entries of all 48 mids; then
    a heartbeat 3 days later that closes both days."""
    return [
        [_entry_line(i, _T0 + 2 * i) for i in range(48)],
        [_entry_line(i, _T0 + 100 + 2 * i) for i in range(12, 24)]
        + [_entry_line(i, _T0 + _DAY + 2 * i) for i in range(48)],
        [_entry_line(100, _T0 + 4 * _DAY)],
    ]


def _feed_traffic_column(spark, tmp_path, batches):
    """Run the traffic column over ``tmp_path/in`` from its checkpoints
    under ``tmp_path/work``, serving ``tmp_path/store``. Each batch lands
    as one raw file, and all three hops drain in topological order before
    the next one, so every batch reaches the last hop on its own. The
    column starts once the first file exists (a file stream needs its
    directory). The queries stop on return and on a hop's failure, which
    propagates."""
    raw = str(tmp_path / "in")
    qs = []
    try:
        for batch in batches:
            _write_lines(spark, raw, batch)
            qs = qs or pipelines.traffic_stream_graph(
                _lines_stream(spark, raw),
                str(tmp_path / "work"),
                store_path=str(tmp_path / "store"),
            )
            for q in qs:
                q.processAllAvailable()
    finally:
        for q in qs:
            q.stop()


def _fed_files(tmp_path) -> int:
    return len(list((tmp_path / "in").glob("*.parquet")))


def _assert_serves_uninterrupted_result(spark, tmp_path, batches):
    """The served store holds each closed-day window of the uninterrupted
    run exactly once: the batch computation over every line, which the
    parity tests above pin to the uninterrupted stream."""
    from realtime_datawarehouse_spark.operators import table_store as ts

    closed = ("2024-01-01", "2024-01-02")
    served = sorted(
        (r.stt, r.vc, r.ch, r.ar, r.is_new, r.uv_ct)
        for r in ts.read_state(spark, str(tmp_path / "store")).collect()
        if r.stt[:10] in closed
    )
    want = sorted(
        w for w in _traffic_windows_batch(spark, sum(batches, []))
        if w[0][:10] in closed
    )
    assert len(want) > 20
    assert served == want


def test_traffic_column_recovers_from_a_crash_after_the_merge_commit(
    spark, tmp_path, monkeypatch
):
    """The last hop crashes just after ``table_store.merge_upsert``
    committed a batch that served day-2 windows, before Spark logged the
    batch as done. Restarted from its checkpoints, the column replays that
    batch with the same version, and the store still serves each window
    once: the MERGE by key absorbs the replay."""
    from pyspark.errors import StreamingQueryException

    from realtime_datawarehouse_spark.operators import table_store as ts

    real_merge = ts.merge_upsert

    def merge_then_crash(spark, incoming, path, **kw):
        version = real_merge(spark, incoming, path, **kw)
        day2 = ts.read_state(spark, path).where("stt LIKE '2024-01-02%'")
        if not day2.isEmpty():
            raise RuntimeError("planted crash after the merge commit")
        return version

    batches = _crash_batches()
    monkeypatch.setattr(ts, "merge_upsert", merge_then_crash)
    with pytest.raises(StreamingQueryException, match="planted crash"):
        _feed_traffic_column(spark, tmp_path, batches)
    monkeypatch.undo()

    _feed_traffic_column(spark, tmp_path, batches[_fed_files(tmp_path):])
    _assert_serves_uninterrupted_result(spark, tmp_path, batches)


def test_traffic_column_recovers_from_a_task_failure_in_the_uv_hop(
    spark, tmp_path, monkeypatch
):
    """A task of the UV hop fails mid-batch, on the batch that carries
    day-1 re-entries and day 2, after the dedup state holds day 1.
    Restarted from its checkpoints, the column reruns that batch from the
    last committed state: the re-entries are still dropped and the store
    serves exactly the uninterrupted result."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    real_uv = pipelines.dwd_unique_visitor_detail

    def uv_with_task_failure(page):
        fail = (F.col("mid") == "m30") & (F.col("visit_date") == "2024-01-02")
        return real_uv(page).where(
            F.when(fail, F.raise_error(F.lit("planted task failure")))
            .otherwise(F.lit(True))
        )

    batches = _crash_batches()
    monkeypatch.setattr(pipelines, "dwd_unique_visitor_detail", uv_with_task_failure)
    with pytest.raises(StreamingQueryException, match="planted task failure"):
        _feed_traffic_column(spark, tmp_path, batches)
    monkeypatch.undo()
    assert _fed_files(tmp_path) == 2  # the failure hit the day-2 batch

    _feed_traffic_column(spark, tmp_path, batches[2:])
    _assert_serves_uninterrupted_result(spark, tmp_path, batches)


def test_traffic_column_merges_only_batches_with_rows(
    spark, tmp_path, monkeypatch
):
    """A last-hop micro-batch whose windows have not closed carries no
    rows and must not reach ``merge_upsert``: committing it would write
    an unchanged version. Skipping it leaves the served result as the
    uninterrupted batch computation."""
    from realtime_datawarehouse_spark.operators import table_store as ts

    real_merge = ts.merge_upsert
    rows_per_merge = []

    def counting_merge(spark, incoming, path, **kw):
        rows_per_merge.append(incoming.count())
        return real_merge(spark, incoming, path, **kw)

    batches = _crash_batches()
    monkeypatch.setattr(ts, "merge_upsert", counting_merge)
    _feed_traffic_column(spark, tmp_path, batches)
    monkeypatch.undo()
    assert rows_per_merge and min(rows_per_merge) > 0, rows_per_merge
    _assert_serves_uninterrupted_result(spark, tmp_path, batches)


# a later raw batch LARGER than the first: its boundary file sorts ahead
# of the first batch's when one trigger reads both (the file scan packs
# files largest first), so only a commit-ordered read keeps the first
# visit. The padding rows are non-entry page views (dropped before the
# UV dedup) and cart adds of users seen nowhere else.
GRAPH_LINES_B2_LARGE = GRAPH_LINES_B2 + [
    '{"common":{"mid":"m3","vc":"v2","ch":"app","ar":"120000","is_new":"0"},'
    f'"page":{{"page_id":"good_list","last_page_id":"home"}},"ts":{t}}}'
    for t in range(1704067214000, 1704067234000, 1000)
]
CART_LINES_B2_LARGE = CART_LINES_B2 + [
    '{"database":"g","table":"cart_info","type":"insert","ts":"1704067215",'
    f'"data":{{"id":"{50 + i}","user_id":"p{i}","sku_id":"s3","sku_num":"1"}}}}'
    for i in range(20)
]


def _cart_uu_windows_batch(spark, lines):
    """Cart-add UU windows over ``lines`` as one batch query: each user's
    earliest cart add per day, counted per 10 s window, {stt: count}."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.sources import maxwell as mx

    env = mx.etl_filter(
        mx.parse_envelope(
            spark.createDataFrame([(s,) for s in lines], "value string")
        )
    ).where(F.col("table") == "cart_info")
    firsts = (
        mx.cart_add_delta(env, extra_cols=("ts",))
        .select(
            "user_id",
            F.timestamp_seconds(F.col("ts").cast("long")).alias("t"),
        )
        .groupBy("user_id", F.to_date("t"))
        .agg(F.min("t").alias("t"))
    )
    return {
        r.stt: r.ct
        for r in firsts.groupBy(F.window("t", "10 seconds"))
        .agg(F.count("*").alias("ct"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            "ct",
        )
        .collect()
    }


def _replay_downstream(graph, raw, work, downstream):
    """Run ``graph`` until q1 has committed every raw batch to its
    boundary, drop q2's and q3's checkpoints and outputs (``downstream``),
    then run it again and drain in topological order: the rebuilt q2
    starts with every boundary file already committed, as a consumer
    reset to the earliest offset of a retained topic does."""
    qs = graph(raw, str(work))
    for q in qs[1:]:
        q.stop()
    qs[0].processAllAvailable()
    qs[0].stop()
    for name in downstream:
        shutil.rmtree(work / name, ignore_errors=True)
    qs = graph(raw, str(work))
    try:
        for q in qs:
            q.processAllAvailable()
    finally:
        for q in qs:
            q.stop()


def test_traffic_stream_graph_replay_keeps_first_entry_of_larger_batch(
    spark, tmp_path
):
    """m2 enters at :01 (batch 1) and re-enters at :13 (batch 2, the
    larger file). Replayed over a page log that already holds both
    batches, the UV dedup must still keep the :01 visit, so the served
    windows equal the batch computation's min-timestamp pick."""
    from realtime_datawarehouse_spark.operators import table_store as ts

    batches = [GRAPH_LINES_B1, GRAPH_LINES_B2_LARGE] + GRAPH_HEARTBEATS
    work = tmp_path / "work"
    _replay_downstream(
        pipelines.traffic_stream_graph,
        _stream_of_lines(spark, tmp_path / "in", batches),
        work,
        ("ck2", "ck3", "dwd_traffic_uv", "dws_traffic_channel"),
    )
    served = {
        (r.stt, r.vc, r.ch, r.ar, r.is_new, r.uv_ct)
        for r in ts.read_state(spark, str(work / "dws_traffic_channel"))
        .collect()
        if r.stt.startswith("2024-01-01")
    }
    want = {
        w for w in _traffic_windows_batch(spark, sum(batches, []))
        if w[0].startswith("2024-01-01")
    }
    assert ("2024-01-01 00:00:00", "v1", "web", "110000", "0", 1) in want
    assert served == want


def test_trade_stream_graph_replay_keeps_first_cart_add_of_larger_batch(
    spark, tmp_path
):
    """u1 adds at :00 (batch 1) and raises sku_num at :10 (batch 2, the
    larger file). Replayed over a fact boundary that already holds both
    batches, the daily dedup must still keep the :00 add, so the UU
    windows on the dws_cart_uu boundary equal the batch computation's."""
    batches = [CART_LINES_B1, CART_LINES_B2_LARGE] + CART_HEARTBEATS
    work = tmp_path / "work"
    _replay_downstream(
        pipelines.trade_stream_graph,
        _stream_of_lines(spark, tmp_path / "in", batches),
        work,
        ("ck2", "ck3", "dws_cart_uu", "ads_cart_daily"),
    )
    got = {
        r.stt: r.cart_add_uu_ct
        for r in spark.read.parquet(str(work / "dws_cart_uu")).collect()
        if r.stt.startswith("2024-01-01")
    }
    want = {
        stt: ct
        for stt, ct in _cart_uu_windows_batch(spark, sum(batches, [])).items()
        if stt.startswith("2024-01-01")
    }
    assert want["2024-01-01 00:00:00"] == 2  # u1 and u2
    assert got == want


def test_auto_buckets_rule_and_router_autosizing(spark, tmp_path):
    """VERDICT r5 item 7: the SCALE.md §20 sizing rule is code, not lore.
    Below the measured flat/bucketed crossover the router keeps the flat
    layout; above it, ~1 M rows per bucket, power-of-two, clamped — and
    the router wired with ``expected_rows`` produces a genuinely bucketed
    store with identical merge semantics."""
    import os

    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.sources.debezium import config_from_rows
    from realtime_datawarehouse_spark.sources.maxwell import MAXWELL_SCHEMA
    from realtime_datawarehouse_spark.streaming import pipelines

    ab = table_store.auto_buckets
    assert ab(None) is None
    assert ab(100_000) is None  # flat is measurably cheaper here (§20)
    assert ab(table_store.BUCKET_CROSSOVER_ROWS - 1) is None
    assert ab(table_store.BUCKET_CROSSOVER_ROWS) == 8
    assert ab(20_000_000) == 32  # ~625 k rows/bucket ≈ one task's state
    assert ab(10**12) == table_store._MAX_BUCKETS  # clamped

    def env_rows(rows):
        return spark.createDataFrame(
            [("gmall", t, typ, str(ts), None, d) for t, typ, ts, d in rows],
            MAXWELL_SCHEMA,
        )

    in_dir, out_dir = str(tmp_path / "envs"), str(tmp_path / "dims")
    env_rows(
        [("part", "insert", 1, {"p_partkey": "1", "p_brand": "B1"}),
         ("part", "insert", 1, {"p_partkey": "2", "p_brand": "B2"})]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    env_rows(
        [("part", "update", 2, {"p_partkey": "1", "p_brand": "B1v2"}),
         ("part", "delete", 2, {"p_partkey": "2", "p_brand": "B2"})]
    ).coalesce(1).write.mode("append").parquet(in_dir)

    cfg = [{
        "source_table": "part", "sink_table": "dim_part",
        "sink_columns": "p_partkey,p_brand", "sink_pk": "p_partkey",
        "sink_extend": None,
    }]
    stream = (
        spark.readStream.schema(MAXWELL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        pipelines.dim_router_stream(
            stream, lambda s: config_from_rows(s, cfg), out_dir,
            expected_rows=5_000_000,  # above the crossover -> 8 buckets
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dim = f"{out_dir}/dim_part"
    state = {
        r.pk: r.data["p_brand"]
        for r in table_store.read_state(spark, dim).collect()
    }
    assert state == {"1": "B1v2"}  # parity with the flat/manual layouts
    vdir = os.path.join(dim, table_store.current_version(dim))
    assert table_store._dir_is_bucketed(vdir)
    assert table_store._bucket_spec(dim, "pk", None)["n"] == 8


def test_streaming_incremental_dedup_loop_parity(spark, tmp_path):
    """The ingest-dedup loop (flag batch vs standing signature table, then
    merge the batch's signatures in) must reproduce the registered
    batch query's verdicts when fed the same corpus/batch split as two
    micro-batches: batch 2's flags == dedup_incremental_batch on the full
    table, and the signature table ends holding every document (so batch
    3 would see batches 1+2 as corpus). Also pins the bootstrap case:
    batch 1 (empty corpus) produces no flags."""
    import os

    from realtime_datawarehouse_spark.operators import dedup, table_store
    from realtime_datawarehouse_spark.streaming import pipelines
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    is_batch = "doc_id % 10 = 7"
    in_dir = str(tmp_path / "in")
    _append_in_order(docs.where(f"NOT ({is_batch})"), in_dir)
    _append_in_order(docs.where(is_batch), in_dir)

    sig_path = str(tmp_path / "sigs")
    flags_path = str(tmp_path / "flags")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        pipelines.streaming_incremental_dedup(stream, sig_path, flags_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    expected = {
        (r.doc_id, r.dup_of, r.match_bits)
        for r in dedup.incremental_lsh_flags(docs).collect()
    }
    flags = table_store.read_state(spark, flags_path)
    got = {
        (r.doc_id, r.dup_of, r.match_bits) for r in flags.collect()
    }
    assert got == expected and len(got) > 0
    # every flag came from batch 2 (batch 1 bootstraps an empty corpus)
    assert {r.batch_id for r in flags.collect()} == {1}
    # the signature table now covers the WHOLE corpus for the next batch
    n_sig = table_store.read_state(spark, sig_path).count()
    assert n_sig == docs.count()


def test_incremental_ingest_loop_n_steps_cumulative_parity_flat_cost(
    spark, tmp_path
):
    """VERDICT r6 item 5: the suite owns the SCALE.md §23 production
    ingest loop, not just the probe. Five successive ingests run the
    deployment read side (``incremental_flags_vs_signatures`` against the
    MAINTAINED signature table) and write side (``merge_upsert`` of the
    batch's signatures); after the loop:

    - cumulative flags equal a full recompute — every step's verdicts
      re-derived from scratch (batch vs signatures recomputed from the
      union of all prior batches' TEXT), so the incrementally-maintained
      table is proven equivalent to the from-text truth at every step;
    - the signature table covers the whole corpus (step N+1 would see
      steps 1..N);
    - per-ingest read-side wall stays flat while the standing corpus
      grows 4x across the loop (loose 3x bound — the §23 probe measures
      the precise decade ratio of 0.94; this pins the SHAPE in-suite so
      an accidental O(corpus) recompute on the read side fails CI)."""
    import time

    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import dedup, table_store
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR_MID

    docs = table(spark, SF_DIR_MID, "documents").select("doc_id", "text")
    n_steps = 5
    sig_path = str(tmp_path / "sigs")
    walls: list[float] = []
    got: dict[int, tuple[int, int]] = {}
    for i in range(n_steps):
        batch = docs.where(f"doc_id % {n_steps} = {i}")
        corpus_sig = table_store.read_state(spark, sig_path)
        t0 = time.perf_counter()
        rows = (
            []
            if corpus_sig is None
            else dedup.incremental_flags_vs_signatures(
                batch, corpus_sig.drop("ver")
            ).collect()
        )
        walls.append(time.perf_counter() - t0)
        assert (corpus_sig is None) == (i == 0)  # bootstrap only once
        for r in rows:
            got[r.doc_id] = (r.dup_of, r.match_bits)
        table_store.merge_upsert(
            spark,
            dedup.minhash_signatures(batch).withColumn("ver", F.lit(i)),
            sig_path,
            pk="doc_id",
            version_col="ver",
        )

    expected: dict[int, tuple[int, int]] = {}
    for i in range(1, n_steps):
        truth = dedup.incremental_flags_vs_signatures(
            docs.where(f"doc_id % {n_steps} = {i}"),
            dedup.minhash_signatures(
                docs.where(f"doc_id % {n_steps} < {i}")
            ),
        )
        for r in truth.collect():
            expected[r.doc_id] = (r.dup_of, r.match_bits)
    assert got == expected and len(got) > 0
    assert table_store.read_state(spark, sig_path).count() == docs.count()
    # read-side flatness: steps 2..N against a corpus 2-4x step 1's must
    # not scale like a recompute (generous vs scheduler jitter; the
    # probe's measured decade ratio is 0.94)
    assert max(walls[2:]) <= 3.0 * max(walls[1], 0.2)


# --- round-8: streaming split twin (VERDICT r7 item 6) ---------------------
#
# Planted near-dup bridge (deterministic under the frozen hash64 banding;
# verified at authoring time): base = w00..w39; doc B replaces positions
# {1,2,8,13,16,23,25,34} with xNN, doc C replaces only {8,16,25,34}.
# lsh_candidate_pairs over {A,B,C} is EXACTLY {(A,C),(B,C)} — A and B do
# not collide directly, so a corpus ingesting A (batch 1), B (batch 2),
# C (batch 3) merges two pre-existing components only when C arrives.
_SPLIT_BASE = [f"w{i:02d}" for i in range(40)]
_B_POS = (1, 2, 8, 13, 16, 23, 25, 34)
_C_POS = (8, 16, 25, 34)


def _planted_split_docs():
    a = " ".join(_SPLIT_BASE)
    b_words = list(_SPLIT_BASE)
    for p in _B_POS:
        b_words[p] = f"x{p:02d}"
    c_words = list(_SPLIT_BASE)
    for p in _C_POS:
        c_words[p] = f"x{p:02d}"
    b = " ".join(b_words)
    c = " ".join(c_words)
    # exact-dup companions make both pre-merge components multi-member
    return {
        0: [(9001, a), (9002, a)],
        1: [(9003, b), (9004, b)],
        2: [(9005, c)],
    }


def _batch_cc_assignments(spark, docs):
    """Ground truth: min-label connected components over the banded-LSH
    pairs of the accumulated corpus — what mix_cluster_aware_split_neardup
    computes before its rollup."""
    from realtime_datawarehouse_spark.operators import dedup

    cc = dedup.connected_components(docs, dedup.lsh_candidate_pairs(docs))
    return {r.doc_id: r.component_id for r in cc.collect()}


def test_streaming_split_assignments_track_batch_cc(spark, tmp_path):
    """VERDICT r7 item 6 end-to-end: the ingest loop with ``comp_path``
    set maintains a doc → (component, split) table that matches the
    BATCH near-dup CC over the accumulated corpus after the run —
    including a component that merges two prior multi-member components
    (and their splits) when a bridge document arrives in batch 3, which
    must resolve deterministically to the min member's hash."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import table_store, textops
    from realtime_datawarehouse_spark.streaming import pipelines
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR

    fixture = table(spark, SF_DIR, "documents").select("doc_id", "text")
    planted = _planted_split_docs()
    in_dir = str(tmp_path / "in")
    for i in range(3):
        batch = fixture.where(f"doc_id % 3 = {i}").unionByName(
            spark.createDataFrame(planted[i], "doc_id long, text string")
        )
        _append_in_order(batch, in_dir)

    sig_path = str(tmp_path / "sigs")
    flags_path = str(tmp_path / "flags")
    comp_path = str(tmp_path / "comps")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        pipelines.streaming_incremental_dedup(
            stream, sig_path, flags_path, comp_path=comp_path
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    all_docs = fixture.unionByName(
        spark.createDataFrame(
            [d for b in planted.values() for d in b],
            "doc_id long, text string",
        )
    )
    want = _batch_cc_assignments(spark, all_docs)
    comp = table_store.read_state(spark, comp_path)
    got = {r.doc_id: r.component_id for r in comp.collect()}
    assert got == want
    # the planted bridge merged both planted components into min id 9001
    assert got[9005] == got[9003] == got[9001] == 9001
    # the stored split is the component representative's hash
    bad = comp.where(
        F.col("split") != textops.split_expr(F.col("component_id"))
    ).count()
    assert bad == 0
    # read-side rollup == the batch query's rollup on the same corpus
    want_roll = {
        r.split: (r.n_docs, r.n_clusters, r.n_rescued)
        for r in textops.split_rollup(
            dedup_cc_per(spark, all_docs)
        ).collect()
    }
    got_roll = {
        r.split: (r.n_docs, r.n_clusters, r.n_rescued)
        for r in pipelines.incremental_split_report(
            spark, comp_path
        ).collect()
    }
    assert got_roll == want_roll


def dedup_cc_per(spark, docs):
    """(cluster_key, split, doc_split) for the batch near-dup CC — the
    input contract of textops.split_rollup, mirroring
    mix_cluster_aware_split_neardup's body."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import dedup, textops

    cc = dedup.connected_components(docs, dedup.lsh_candidate_pairs(docs))
    return cc.select(
        F.col("component_id").alias("cluster_key"),
        textops.split_expr(F.col("component_id")).alias("split"),
        textops.split_expr(F.col("doc_id")).alias("doc_split"),
    )


def test_incremental_split_maintenance_stepwise_parity(spark, tmp_path):
    """The cumulative invariant, pinned after EVERY step (not just the
    end state): doc → component equals the batch CC over everything
    ingested so far, at each of 3 ingests — plus replay idempotency
    (re-running a step's maintenance with the same batch_id leaves the
    table byte-identical)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import dedup, table_store
    from realtime_datawarehouse_spark.streaming import pipelines
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR

    fixture = table(spark, SF_DIR, "documents").select("doc_id", "text")
    planted = _planted_split_docs()
    sig_path = str(tmp_path / "sigs")
    comp_path = str(tmp_path / "comps")
    seen = None
    merged_late = False
    for i in range(3):
        batch = fixture.where(f"doc_id % 3 = {i}")
        if i in planted:
            batch = batch.unionByName(
                spark.createDataFrame(
                    planted[i], "doc_id long, text string"
                )
            )
        corpus_sig = table_store.read_state(spark, sig_path)
        corpus_sig = (
            corpus_sig.drop("ver") if corpus_sig is not None else None
        )
        batch_sig = dedup.minhash_signatures(batch)
        pipelines._maintain_split_components(
            spark, batch_sig, corpus_sig, comp_path, batch_id=i
        )
        table_store.merge_upsert(
            spark,
            batch_sig.withColumn("ver", F.lit(i)),
            sig_path,
            pk="doc_id",
            version_col="ver",
        )
        seen = batch if seen is None else seen.unionByName(batch)
        want = _batch_cc_assignments(spark, seen)
        got = {
            r.doc_id: r.component_id
            for r in table_store.read_state(spark, comp_path).collect()
        }
        assert got == want, f"step {i}"
        if i == 2:
            # the bridge arrived: both planted components (already
            # multi-member and in the table since steps 0/1) merged now
            assert got[9005] == got[9003] == got[9001] == 9001
            merged_late = True
            # replay the SAME batch (foreachBatch crash-replay): the
            # maintenance must be idempotent
            pipelines._maintain_split_components(
                spark, batch_sig, corpus_sig, comp_path, batch_id=i
            )
            replay = {
                r.doc_id: r.component_id
                for r in table_store.read_state(
                    spark, comp_path
                ).collect()
            }
            assert replay == want
    assert merged_late


def test_hot_band_spanning_pairs_bound_and_cc_parity(spark, tmp_path):
    """VERDICT r8 item 3, the planted hot-band adversary: a mirror-heavy
    batch against a corpus containing the same mirrors concentrates
    every band collision in ONE bucket per band, inflating the full pair
    increment to |batch∩bucket| × |corpus∩bucket|. The spanning
    contraction must (a) stay within its hard ≤ 2·|batch|·BANDS edge
    bound regardless of corpus size, (b) keep split maintenance's
    component table EXACTLY equal to the batch CC on this corpus, and
    (c) the optional max_bucket cap on the full-pair form must bound its
    output deterministically as a subset of the exact set."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import dedup, table_store
    from realtime_datawarehouse_spark.streaming import pipelines

    mirror = "the same mirrored boilerplate page repeated verbatim " * 4
    n_corpus, n_batch = 40, 6
    corpus = spark.createDataFrame(
        [(i, mirror) for i in range(n_corpus)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1000 + i, mirror) for i in range(n_batch)],
        "doc_id long, text string",
    )
    corpus_sig = dedup.minhash_signatures(corpus)
    batch_sig = dedup.minhash_signatures(batch)

    full = dedup.incremental_candidate_pairs(batch_sig, corpus_sig)
    n_full = full.count()
    # identical text -> identical signatures -> one bucket per band:
    # batch×corpus plus batch-internal pairs, the quadratic blow-up
    assert n_full == n_batch * n_corpus + n_batch * (n_batch - 1) // 2

    span = dedup.incremental_spanning_pairs(batch_sig, corpus_sig)
    span_rows = span.collect()
    assert len(span_rows) <= 2 * n_batch * dedup.BANDS
    # here: one star over the 6 batch docs + one edge to the corpus min
    assert len(span_rows) == n_batch
    # spanning edges connect the same vertex set the full increment does
    full_nodes = {
        x for r in full.collect() for x in (r.doc_a, r.doc_b)
    }
    span_nodes = {x for r in span_rows for x in (r.doc_a, r.doc_b)}
    assert span_nodes <= full_nodes.union({0})  # corpus-min is doc 0

    # capped full form: deterministic bound, subset of the exact set
    capped = dedup.incremental_candidate_pairs(
        batch_sig, corpus_sig, max_bucket=3
    )
    capped_set = {(r.doc_a, r.doc_b) for r in capped.collect()}
    full_set = {(r.doc_a, r.doc_b) for r in full.collect()}
    assert capped_set <= full_set
    assert len(capped_set) == n_batch * 3 + n_batch * (n_batch - 1) // 2
    # the kept corpus members are the 3 smallest doc_ids (deterministic)
    assert {a for a, b in capped_set if b >= 1000 and a < 1000} == {0, 1, 2}

    # end-to-end: split maintenance over hot-band ingests == batch CC
    sig_path = str(tmp_path / "sigs")
    comp_path = str(tmp_path / "comps")
    distinct_doc = (
        "an entirely different and unique document about something else"
    )
    batches = [
        [(i, mirror) for i in range(n_corpus)],
        [(1000 + i, mirror) for i in range(n_batch)]
        + [(2000, distinct_doc)],
    ]
    seen = None
    for bi, rows in enumerate(batches):
        bdf = spark.createDataFrame(rows, "doc_id long, text string")
        pipelines.ingest_split_step(spark, bdf, sig_path, comp_path, bi)
        seen = bdf if seen is None else seen.unionByName(bdf)
    want = _batch_cc_assignments(spark, seen)
    got = {
        r.doc_id: r.component_id
        for r in table_store.read_state(spark, comp_path).collect()
    }
    assert got == want
    # all mirrors in one component rooted at the min id; loner alone
    assert got[1000 + n_batch - 1] == 0 and got[2000] == 2000


def _sf_loop_inputs(spark):
    """The SF_DIR corpus as the 7-table composed loop ingests it, in three
    doc_id-mod-3 batches: the joined rows, the IVF centroids and the
    16-merge day-0 vocab trained on the full corpus (so every batch is
    warm)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import similarity, textops
    from realtime_datawarehouse_spark.streaming import pipelines
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    emb = table(spark, SF_DIR, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id, "left").select(
        "doc_id", "text", "embedding"
    )
    m0 = [
        (r.left, r.right)
        for r in textops.bpe_train(docs, 16).orderBy("step").collect()
    ]
    return {
        "docs": docs,
        "emb": emb,
        "joined": joined,
        "batches": [
            joined.where(F.pmod(F.col("doc_id"), F.lit(3)) == i)
            for i in range(3)
        ],
        "centroids": similarity._ivf_centroids(emb),
        "m0": m0,
        "r0": pipelines._bpe_ratio_milli(
            textops.bpe_encode_vocab(docs, merges=m0)
        ),
    }


def _sf_loop_step(spark, inp, root, i, buckets=None):
    """Batch ``i`` of _sf_loop_inputs through production_ingest_step into
    the seven standing tables under ``root``."""
    from realtime_datawarehouse_spark.streaming import pipelines

    pipelines.production_ingest_step(
        spark, inp["batches"][i], inp["centroids"],
        f"{root}/sigs", f"{root}/flags", f"{root}/comps", f"{root}/ivf",
        batch_id=i, quality_path=f"{root}/quality",
        bpe_vocab_path=f"{root}/vocab", bpe_enc_path=f"{root}/enc",
        buckets=buckets,
    )


@pytest.fixture(scope="module")
def sf_loop_flat_replay(spark, tmp_path_factory):
    """One uninterrupted flat-layout step replay of _sf_loop_inputs,
    shared by the stream and the bucketed-layout comparisons: (inputs,
    root of its tables)."""
    from realtime_datawarehouse_spark.streaming import pipelines

    inp = _sf_loop_inputs(spark)
    root = str(tmp_path_factory.mktemp("sf_loop_flat"))
    pipelines.install_bpe_vocab(spark, f"{root}/vocab", inp["m0"], 0, inp["r0"])
    for i in range(3):
        _sf_loop_step(spark, inp, root, i)
    return inp, root


def test_production_ingest_bucketed_matches_flat(
    spark, tmp_path, sf_loop_flat_replay
):
    """Round 10 (extended round 12 to the 7-table loop): the composed
    loop's standing tables — sigs/flags/comps/ivf/quality PLUS the
    round-12 BPE encodings — merged with ``buckets=4`` (the bucketed
    deployment layout) across a multi-batch history INCLUDING a replayed
    batch must end row-identical to the uninterrupted flat layout —
    bucket-local last-write-wins is the same merge, just partitioned,
    and the replay changes nothing. Every merge here touches all 4
    buckets, so this pins layout parity only; bucket pruning and the
    hardlinked untouched buckets are pinned by the bucketed merge tests
    in tests/test_sinks_serving.py."""
    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.streaming import pipelines

    inp, flat = sf_loop_flat_replay
    bk = str(tmp_path / "bk")
    pipelines.install_bpe_vocab(spark, f"{bk}/vocab", inp["m0"], 0, inp["r0"])
    for i in range(3):
        _sf_loop_step(spark, inp, bk, i, buckets=4)
        if i == 1:  # crash-replay mid-history
            _sf_loop_step(spark, inp, bk, i, buckets=4)

    for t in ("sigs", "flags", "comps", "ivf", "quality", "enc"):
        flat_rows, bk_rows = (
            sorted(
                tuple(r)
                for r in table_store.read_state(spark, f"{root}/{t}")
                .drop("ver").collect()
            )
            for root in (flat, bk)
        )
        assert flat_rows == bk_rows, f"table {t} diverged"


def test_ivf_refresh_policy_triggers_on_planted_drift_only(spark, tmp_path):
    """Round 10, the measure→act loop: `ivf_refresh_if_needed` must
    (a) SKIP a balanced index (no version created, returns False),
    (b) TRIGGER once planted drift pushes the worst list past the
    balance threshold, and (c) actually restore balance — the
    post-refresh imbalance drops back under the threshold, so a
    replayed trigger batch re-reads the now-balanced index and skips
    (the self-healing replay property the docstring claims)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.functions.vector import l2_norm
    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.streaming import pipelines

    def cb(rows):
        return (
            spark.createDataFrame(
                rows, "centroid_id long, cv array<double>"
            ).select("centroid_id", "cv", l2_norm(F.col("cv")).alias("cn"))
        )

    def basis(i, dim=8, eps=0.0):
        v = [eps] * dim
        v[i] = 1.0
        return v

    frozen = cb([(i, basis(i)) for i in range(8)])
    path = str(tmp_path / "ivf")

    # batch 0: one vector per centroid direction — perfectly balanced
    b0 = spark.createDataFrame(
        [(i, basis(i, eps=0.01)) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    pipelines.ingest_ivf_step(spark, b0, frozen, path, 0)
    assert pipelines.ivf_index_imbalance6(spark, path) == 1_000_000
    v_before = set(table_store.list_versions(path))
    assert (
        pipelines.ivf_refresh_if_needed(spark, path, refresh_id=1) is False
    )
    assert set(table_store.list_versions(path)) == v_before

    # drift: 24 more vectors, all in list 0 (mx=25 of n=32, k=8 →
    # balance6 = 25·8·1e6/32 = 6.25e6 > the 4e6 threshold)
    hot = [
        (100 + j, [1.0] + [0.001 * (j % 6 + 1) if d == 1 + j % 7 else 0.0
                           for d in range(1, 8)])
        for j in range(24)
    ]
    b1 = spark.createDataFrame(
        hot, "vec_id long, embedding array<double>"
    )
    pipelines.ingest_ivf_step(spark, b1, frozen, path, 1)
    imb = pipelines.ivf_index_imbalance6(spark, path)
    assert imb == 6_250_000
    # refresh with a codebook that splits the hot region (centroids on
    # the drifted sub-directions) — injected for determinism; the
    # trained default is covered by the refresh mechanics test
    split = cb(
        [(i, [1.0] + [0.001 * (i % 6 + 1) if d == 1 + i % 7 else 0.0
                      for d in range(1, 8)]) for i in range(7)]
        + [(7, basis(4))]
    )
    assert (
        pipelines.ivf_refresh_if_needed(
            spark, path, refresh_id=2, new_centroids=split
        )
        is True
    )
    after = pipelines.ivf_index_imbalance6(spark, path)
    assert after < imb
    # self-healing replay: the re-run of the trigger batch's check sees
    # the refreshed index and skips
    v_after = set(table_store.list_versions(path))
    assert (
        pipelines.ivf_refresh_if_needed(
            spark, path, refresh_id=2, new_centroids=split,
            max_balance6=max(4_000_000, after),
        )
        is False
    )
    assert set(table_store.list_versions(path)) == v_after


def test_ivf_refresh_on_bucketed_index_then_merge_rebuckets(spark, tmp_path):
    """Round 10 interplay pin: a refresh commits a FLAT full snapshot
    (same class as compact()) onto a BUCKETED index table; the next
    bucketed merge must take the documented migration path (one full
    re-bucket rewrite) and end state must stay exact — codebook rows
    (negative pks) ride the re-bucketing like any row."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.functions.vector import l2_norm
    from realtime_datawarehouse_spark.operators import (
        similarity,
        table_store,
    )
    from realtime_datawarehouse_spark.streaming import pipelines

    def cb(rows):
        return (
            spark.createDataFrame(
                rows, "centroid_id long, cv array<double>"
            ).select("centroid_id", "cv", l2_norm(F.col("cv")).alias("cn"))
        )

    def basis(i, dim=4):
        v = [0.0] * dim
        v[i] = 1.0
        return v

    frozen = cb([(i, basis(i)) for i in range(2)])
    path = str(tmp_path / "ivf")
    b0 = spark.createDataFrame(
        [(i, basis(i % 2)) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    pipelines.ingest_ivf_step(spark, b0, frozen, path, 0, buckets=4)
    wider = cb([(i, basis(i)) for i in range(4)])
    pipelines.refresh_ivf_index(
        spark, path, refresh_id=1, new_centroids=wider
    )
    stored_cb, assigned = pipelines.read_ivf_index(spark, path)
    assert stored_cb.count() == 4
    # post-refresh bucketed merge over the flat refresh snapshot
    b1 = spark.createDataFrame(
        [(100 + i, basis(2 + i % 2)) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    pipelines.ingest_ivf_step(spark, b1, frozen, path, 2, buckets=4)
    stored_cb2, assigned2 = pipelines.read_ivf_index(spark, path)
    assert stored_cb2.count() == 4  # codebook survived the re-bucket
    got = {r.vec_id: r.centroid_id for r in assigned2.collect()}
    want = {
        r.vec_id: r.centroid_id
        for r in similarity.ivf_assign(b0.unionByName(b1), wider).collect()
    }
    assert got == want


def test_production_corpus_pipeline_stream_matches_replay(
    spark, tmp_path, sf_loop_flat_replay
):
    """VERDICT r8 item 5, the stream side: running the COMPOSED loop as a
    real foreachBatch stream produces byte-identical end states to the
    step replay the registered eval runs (shared step function), and
    each standing table equals its independent batch form — flags ≡
    per-stage incremental_flags_vs_signatures, components ≡ batch CC,
    IVF lists ≡ ivf_assign over the full corpus."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import (
        dedup,
        similarity,
        table_store,
    )
    from realtime_datawarehouse_spark.streaming import pipelines

    from realtime_datawarehouse_spark.operators import textops as _to

    inp, r = sf_loop_flat_replay
    docs, emb, joined = inp["docs"], inp["emb"], inp["joined"]
    centroids, m0, r0 = inp["centroids"], inp["m0"], inp["r0"]
    n_batches = 3
    # round 12: the 6th/7th standing tables ride the same stream —
    # day-0 vocab trained on the full corpus, so every batch is warm
    # (the firing-refresh stream twin is
    # test_v3_stream_matches_replay_through_all_three_refreshes)

    in_dir = str(tmp_path / "in")
    for b in inp["batches"]:
        _append_in_order(b, in_dir)

    s = str(tmp_path / "stream")
    pipelines.install_bpe_vocab(spark, f"{s}/vocab", m0, 0, r0)
    stream = (
        spark.readStream.schema(joined.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    # round 10: the stream twin runs WITH the compaction cadence on —
    # stream ≡ replay must hold through a mid-history compaction too
    # (compaction is pure re-layout inside the same foreachBatch)
    q = (
        pipelines.production_corpus_pipeline(
            stream, centroids, f"{s}/sigs", f"{s}/flags", f"{s}/comps",
            f"{s}/ivf", quality_path=f"{s}/quality", compact_every=2,
            bpe_vocab_path=f"{s}/vocab", bpe_enc_path=f"{s}/enc",
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def snap(path, cols):
        df = table_store.read_state(spark, path)
        return sorted(tuple(row) for row in df.select(*cols).collect())

    for t, cols in (
        ("flags", ["doc_id", "dup_of", "match_bits"]),
        ("comps", ["doc_id", "component_id", "split"]),
        ("ivf", ["vec_id", "centroid_id"]),
        ("quality", ["doc_id", "margin_milli", "keep"]),
        ("enc", ["doc_id", "tokens_before", "tokens_after", "vocab_ver"]),
    ):
        assert snap(f"{s}/{t}", cols) == snap(f"{r}/{t}", cols), t

    # the encodings table equals the batch encoder over the whole corpus
    want_enc = sorted(
        (r_.doc_id, r_.tokens_before, r_.tokens_after, 0)
        for r_ in _to.bpe_encode_vocab(docs, merges=m0).collect()
    )
    assert snap(
        f"{s}/enc", ["doc_id", "tokens_before", "tokens_after", "vocab_ver"]
    ) == want_enc

    # the quality table equals the batch scorer over the whole corpus
    from realtime_datawarehouse_spark.operators import textops

    want_q = sorted(
        (r_.doc_id, r_.margin_milli, r_.keep)
        for r_ in textops.quality_classifier(docs).collect()
    )
    assert snap(f"{s}/quality", ["doc_id", "margin_milli", "keep"]) == want_q

    # vs the three INDEPENDENT batch forms
    want_comp = _batch_cc_assignments(spark, docs)
    got_comp = {
        r_.doc_id: r_.component_id
        for r_ in table_store.read_state(spark, f"{s}/comps").collect()
    }
    assert got_comp == want_comp

    want_ivf = sorted(
        (r_.vec_id, r_.centroid_id)
        for r_ in similarity.ivf_assign(emb, centroids)
        .select("vec_id", "centroid_id")
        .collect()
    )
    assert snap(f"{s}/ivf", ["vec_id", "centroid_id"]) == want_ivf

    want_flags = []
    for i in range(1, n_batches):
        corpus = docs.where(F.pmod(F.col("doc_id"), F.lit(n_batches)) < i)
        batch = docs.where(F.pmod(F.col("doc_id"), F.lit(n_batches)) == i)
        want_flags.extend(
            (r_.doc_id, r_.dup_of, r_.match_bits)
            for r_ in dedup.incremental_flags_vs_signatures(
                batch, dedup.minhash_signatures(corpus)
            ).collect()
        )
    assert snap(f"{s}/flags", ["doc_id", "dup_of", "match_bits"]) == sorted(
        want_flags
    )


def _v3_history(spark):
    """The 7-table loop history in which ALL THREE measure→act policies
    fire: the vocab-ratio trigger at batch 2 (drifted text retrains and
    installs v2), and the quality-PSI and IVF-imbalance triggers at the
    batch-3 cadence point. The providers are fixed deterministic frames,
    so every run of it retrains on identical corpora."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.functions.vector import l2_norm
    from realtime_datawarehouse_spark.operators import textops
    from realtime_datawarehouse_spark.streaming import pipelines

    def cb(rows):
        return spark.createDataFrame(
            rows, "centroid_id long, cv array<double>"
        ).select("centroid_id", "cv", l2_norm(F.col("cv")).alias("cn"))

    def basis(i, dim=8, eps=0.0):
        v = [eps] * dim
        v[i] = 1.0
        return v

    def hot(j):
        return [1.0] + [
            0.001 * (j % 6 + 1) if d == 1 + j % 7 else 0.0
            for d in range(1, 8)
        ]

    # batch 0: 8 short docs, one per basis direction (balanced index,
    # narrow margins, 'abab' vocabulary); batches 1-3: 8 long docs
    # each, all piling onto list 0 (imbalance drift), wide margins
    # (PSI drift); batch 2's text switches orthography (vocab drift)
    ab, xy = "abab abab abab", " ".join(["xyxy"] * 24)
    ab_long = " ".join(["abab"] * 24)
    rows = [(1 + i, ab, basis(i, eps=0.01)) for i in range(8)]
    rows += [(100 + j, ab_long, hot(j)) for j in range(8)]
    rows += [(108 + j, xy, hot(8 + j)) for j in range(8)]
    rows += [(116 + j, xy, hot(16 + j)) for j in range(8)]
    all_df = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>"
    )
    batches = [
        all_df.where(F.col("doc_id") <= 8),
        all_df.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 108)),
        all_df.where((F.col("doc_id") >= 108) & (F.col("doc_id") < 116)),
        all_df.where(F.col("doc_id") >= 116),
    ]
    split_cb = cb(
        [(i, hot(8 + i)) for i in range(7)] + [(7, basis(4))]
    )
    stale_w = _const_weights(spark, 500)
    fresh_w = _const_weights(spark, 300)
    docs0 = batches[0].select("doc_id", "text")
    bpe_corpus = (
        batches[0].unionByName(batches[1]).unionByName(batches[2])
        .select("doc_id", "text")
    )
    q_corpus = all_df.select("doc_id", "text")
    m0 = [
        (r.left, r.right)
        for r in textops.bpe_train(docs0, 4).orderBy("step").collect()
    ]
    return {
        "all_df": all_df,
        "batches": batches,
        "stale_cb": cb([(i, basis(i)) for i in range(8)]),
        "docs0": docs0,
        "stale_w": stale_w,
        "m0": m0,
        "r0": pipelines._bpe_ratio_milli(
            textops.bpe_encode_vocab(docs0, merges=m0)
        ),
        "knobs": dict(
            quality_weights=stale_w,
            quality_refresh_every=3,
            quality_corpus_provider=lambda s: q_corpus,
            quality_refresh_weights_provider=lambda s: fresh_w,
            ivf_refresh_every=3,
            ivf_refresh_centroids_provider=lambda s: split_cb,
            bpe_corpus_provider=lambda s: bpe_corpus,
        ),
    }


def _v3_paths(root):
    return {
        n: f"{root}/{n}"
        for n in ("sigs", "flags", "comps", "ivf", "quality", "vocab", "enc")
    }


def _v3_day0(spark, h, p, buckets=None):
    """Day 0 of the v3 history at paths ``p``: the 4-merge vocab v0 and
    the stale quality model over batch 0's docs."""
    from realtime_datawarehouse_spark.streaming import pipelines

    pipelines.install_bpe_vocab(spark, p["vocab"], h["m0"], 0, h["r0"])
    pipelines.ingest_quality_step(
        spark, h["docs0"], p["quality"], 0, weights=h["stale_w"],
        buckets=buckets,
    )
    pipelines.refresh_quality_model(
        spark, p["quality"], h["docs0"], refresh_id=0,
        new_weights=h["stale_w"],
    )


def _v3_replay(spark, h, root, buckets=None):
    """The direct step replay of the v3 history under ``root``; returns
    its table paths."""
    from realtime_datawarehouse_spark.streaming import pipelines

    p = _v3_paths(root)
    _v3_day0(spark, h, p, buckets)
    for i, b in enumerate(h["batches"]):
        pipelines.production_ingest_step(
            spark, b, h["stale_cb"],
            p["sigs"], p["flags"], p["comps"], p["ivf"],
            batch_id=i, quality_path=p["quality"],
            bpe_vocab_path=p["vocab"], bpe_enc_path=p["enc"],
            buckets=buckets, **h["knobs"],
        )
    return p


@pytest.fixture(scope="module")
def v3_flat_replay(spark, tmp_path_factory):
    """One flat-layout replay of the v3 history, shared by the stream and
    the bucketed-layout comparisons: (history, table paths)."""
    h = _v3_history(spark)
    return h, _v3_replay(spark, h, str(tmp_path_factory.mktemp("v3_flat")))


def test_v3_stream_matches_replay_through_all_three_refreshes(
    spark, tmp_path, v3_flat_replay
):
    """Round 12 interplay pin for the 7-table composed loop: a REAL
    foreachBatch stream and the direct step replay must end
    byte-identical across a history in which ALL THREE measure→act
    policies FIRE mid-run (_v3_history) — both model swaps are
    conditional commits inside the same foreachBatch."""
    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.streaming import pipelines

    h, r = v3_flat_replay
    in_dir = str(tmp_path / "in")
    for b in h["batches"]:
        _append_in_order(b, in_dir)

    s = _v3_paths(str(tmp_path / "stream"))
    _v3_day0(spark, h, s)
    stream = (
        spark.readStream.schema(h["all_df"].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        pipelines.production_corpus_pipeline(
            stream, h["stale_cb"], s["sigs"], s["flags"], s["comps"],
            s["ivf"], quality_path=s["quality"],
            bpe_vocab_path=s["vocab"], bpe_enc_path=s["enc"],
            **h["knobs"],
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    for t in ("sigs", "flags", "comps", "ivf", "quality", "vocab", "enc"):
        a = sorted(
            tuple(r_)
            for r_ in table_store.read_state(spark, s[t]).collect()
        )
        b = sorted(
            tuple(r_)
            for r_ in table_store.read_state(spark, r[t]).collect()
        )
        assert a == b, f"table {t} diverged between stream and replay"

    # all three refreshes actually FIRED in the stream
    vers = sorted(
        r_.vocab_ver
        for r_ in table_store.read_state(spark, s["vocab"])
        .select("vocab_ver").distinct().collect()
    )
    assert vers == [0, 2], "vocab-ratio trigger did not fire at batch 2"
    w_emb, _, _ = pipelines.read_quality_state(spark, s["quality"])
    assert {r_.w_milli for r_ in w_emb.collect()} == {300}, (
        "quality-PSI trigger did not swap the model"
    )
    assert pipelines.quality_drift_psi6(spark, s["quality"]) == 0
    stored_cb, _ = pipelines.read_ivf_index(spark, s["ivf"])
    assert stored_cb is not None and stored_cb.count() == 8, (
        "IVF-imbalance trigger did not install the refreshed codebook"
    )


def test_commit_props_manifest_and_consistent_snapshot(spark, tmp_path):
    """Round 12 (VERDICT r11 item 2), the mechanics: commit properties
    travel atomically with the version (written inside the private
    claim dir before the CAS flip), merge_upsert forwards them,
    compact CARRIES THE HEAD'S FORWARD (pure re-layout describes the
    same applied state), and version_props reads any retained
    version's."""
    from pyspark.sql import functions as F  # noqa: F401

    from realtime_datawarehouse_spark.operators import table_store

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10)], "pk long, ver long")
    table_store.merge_upsert(
        spark, df, path, pk="pk", version_col="ver",
        props={"applied_batch": 0},
    )
    assert table_store.version_props(path) == {"applied_batch": 0}
    v0 = table_store.current_version(path)
    table_store.merge_upsert(
        spark,
        spark.createDataFrame([(2, 11)], "pk long, ver long"),
        path, pk="pk", version_col="ver", props={"applied_batch": 1},
    )
    # both retained versions keep their own manifests
    assert table_store.version_props(path, v0) == {"applied_batch": 0}
    assert table_store.version_props(path) == {"applied_batch": 1}
    # compaction carries the head manifest forward
    table_store.compact(spark, path, target_files=1, cluster_col="pk")
    assert table_store.version_props(path) == {"applied_batch": 1}
    # a commit without props reads back None (pre-manifest tables)
    other = str(tmp_path / "u")
    table_store.commit(df, other, expected_version=None)
    assert table_store.version_props(other) is None


def test_crash_between_tables_reader_never_sees_mixed_frontier(
    spark, tmp_path
):
    """Round 12 crash-replay pin for the manifest: a composed-loop step
    that dies BETWEEN standing-table writes leaves a torn head (quality
    at batch 2, sigs/comps at 1) — the consistent-snapshot reader must
    (a) report the lag, (b) serve every table at the common frontier
    (the ahead table's retained predecessor), never a mixed one, and
    (c) after the replayed full step, equal an UNINTERRUPTED run
    byte-for-byte at the advanced frontier."""
    from pyspark.sql import functions as F  # noqa: F401

    from realtime_datawarehouse_spark.streaming import pipelines

    def docs(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string"
        )

    base = " ".join(f"w{i:02d}" for i in range(30))
    batches = [
        docs([(1, base), (2, base + " x")]),
        docs([(3, base), (4, "novel words entirely here now maybe")]),
        docs([(5, base + " y"), (6, "fresh tokens appear again today")]),
    ]

    def run(root, crash):
        p = {n: f"{root}/{n}" for n in ("quality", "sigs", "comps")}

        def step(i):
            pipelines.production_ingest_step(
                spark, batches[i], None,
                p["sigs"], f"{root}/flags", p["comps"], f"{root}/ivf",
                batch_id=i, quality_path=p["quality"],
            )

        step(0)
        step(1)
        if crash:
            # batch 2 dies after its first table write
            pipelines.ingest_quality_step(
                spark, batches[2], p["quality"], 2,
                props={"applied_batch": 2},
            )
        return p, step

    p, step = run(str(tmp_path / "crash"), crash=True)
    lag = {n: a for (n, _, a) in pipelines.loop_lag_report(p)}
    assert lag == {"quality": 2, "sigs": 1, "comps": 1}
    frontier, frames = pipelines.read_consistent_state(spark, p)
    assert frontier == 1
    # the reader serves quality's PREDECESSOR: exactly batches 0-1 docs
    assert sorted(
        r.doc_id for r in frames["quality"].collect()
    ) == [1, 2, 3, 4]
    assert sorted(r.doc_id for r in frames["sigs"].collect()) == [
        1, 2, 3, 4,
    ]
    # heal: replay batch 2 in full, then compare against an
    # uninterrupted run of the same three steps
    step(2)
    frontier2, frames2 = pipelines.read_consistent_state(spark, p)
    assert frontier2 == 2
    q, _ = run(str(tmp_path / "clean"), crash=False)
    pipelines.production_ingest_step(
        spark, batches[2], None,
        q["sigs"], f"{tmp_path}/clean/flags", q["comps"],
        f"{tmp_path}/clean/ivf", batch_id=2, quality_path=q["quality"],
    )
    _, clean_frames = pipelines.read_consistent_state(spark, q)
    for t in ("quality", "sigs", "comps"):
        got = sorted(tuple(r) for r in frames2[t].collect())
        want = sorted(tuple(r) for r in clean_frames[t].collect())
        assert got == want, f"healed {t} diverged from uninterrupted run"


def test_v3_replay_bucketed_matches_flat_through_refreshes(
    spark, tmp_path, v3_flat_replay
):
    """Round 12 interplay pin closing the buckets × refresh × composed
    cross product: the 7-table loop replayed with ``buckets=4`` through
    a history where ALL THREE policies fire (_v3_history) must end
    row-identical to the flat layout — each refresh commits a FLAT full
    snapshot onto bucketed tables (the documented compact-class
    migration), the next bucketed merge re-buckets, and no artifact
    (embedded model, codebook rows, vocab versions, encodings) is
    disturbed."""
    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.streaming import pipelines

    h, fp = v3_flat_replay
    bp = _v3_replay(spark, h, str(tmp_path / "bk"), buckets=4)

    def rows(pth):
        df = table_store.read_state(spark, pth).drop("ver")
        return sorted(tuple(r) for r in df.collect())

    for t in fp:
        assert rows(fp[t]) == rows(bp[t]), f"table {t} diverged"
    # the refreshes really fired in the bucketed run, and the next
    # bucketed merge re-bucketed the refresh's flat snapshot
    vers = sorted(
        r.vocab_ver
        for r in table_store.read_state(spark, bp["vocab"])
        .select("vocab_ver").distinct().collect()
    )
    assert vers == [0, 2]
    w_emb, _, _ = pipelines.read_quality_state(spark, bp["quality"])
    assert {r.w_milli for r in w_emb.collect()} == {300}
    stored_cb, _ = pipelines.read_ivf_index(spark, bp["ivf"])
    assert stored_cb is not None


def test_consistent_read_survives_fired_refresh_double_commit(
    spark, tmp_path
):
    """Code-review r12: a FIRED model refresh is the SECOND commit of
    its batch; under the store's default retain=2 it would evict the
    PREVIOUS batch's version — exactly the snapshot a consistent
    reader polling MID-STEP (after the refresh, before the next
    table's merge) needs. The refresh commits with retain=3, so the
    frontier pick survives."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.streaming import pipelines

    docs = _docs_df(spark, [(1, "a b"), (2, "c d e")])
    q = str(tmp_path / "quality")
    s = str(tmp_path / "sigs")
    # batch 0: quality + sigs both applied=0
    pipelines.ingest_quality_step(
        spark, docs, q, 0, weights=_const_weights(spark, 500),
        props={"applied_batch": 0},
    )
    from realtime_datawarehouse_spark.operators import dedup, table_store

    table_store.merge_upsert(
        spark,
        dedup.minhash_signatures(docs).withColumn("ver", F.lit(0)),
        s, pk="doc_id", version_col="ver", props={"applied_batch": 0},
    )
    # batch 1 MID-STEP: quality merges (applied=1) AND a fired refresh
    # commits again (applied=1) — sigs still at 0
    b1 = _docs_df(spark, [(3, "f g")])
    pipelines.ingest_quality_step(
        spark, b1, q, 1, props={"applied_batch": 1}
    )
    pipelines.refresh_quality_model(
        spark, q, docs.unionByName(b1), refresh_id=1,
        new_weights=_const_weights(spark, 300),
        props={"applied_batch": 1},
    )
    paths = {"quality": q, "sigs": s}
    frontier, picks = pipelines.consistent_snapshot(paths)
    assert frontier == 0
    assert picks["quality"] is not None, (
        "the double commit evicted the frontier version (retain too "
        "small on the refresh commit)"
    )
    pr = table_store.version_props(q, picks["quality"])
    assert pr == {"applied_batch": 0}
    _, frames = pipelines.read_consistent_state(spark, paths)
    # the frontier quality snapshot = batch-0 docs under the OLD model
    assert sorted(r.doc_id for r in frames["quality"].collect()) == [1, 2]
    assert {
        r.margin_milli
        for r in frames["quality"].where(F.col("doc_id") >= 0).collect()
    } == {1000, 1500}  # 500-milli weights × 2/3 tokens


def test_unmanifested_head_maps_to_none_not_stale_pick(spark, tmp_path):
    """Code-review r12: a table whose HEAD commit carries no manifest
    is OUTSIDE the consistency domain — the reader must return None
    for it (as documented), not silently serve an OLDER manifested
    version as 'consistent'."""
    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.streaming import pipelines

    q = str(tmp_path / "q")
    docs = _docs_df(spark, [(1, "a b")])
    pipelines.ingest_quality_step(
        spark, docs, q, 0, weights=_const_weights(spark, 500),
        props={"applied_batch": 0},
    )
    # an out-of-band refresh WITHOUT props: head is now unmanifested
    pipelines.refresh_quality_model(
        spark, q, docs, refresh_id=1,
        new_weights=_const_weights(spark, 300),
    )
    assert table_store.version_props(q) is None
    frontier, picks = pipelines.consistent_snapshot({"quality": q})
    assert frontier is None and picks["quality"] is None


def test_concurrent_different_content_installs_converge(spark, tmp_path):
    """Code-review r12: two writers whose drift triggers fire with
    DIFFERENT corpus views race the same target vocab_ver — the CAS
    loser must bump past the winner and install as a fresh version
    (both vocabularies land, monotonically versioned), never fail the
    batch. Exercised through ingest_bpe_step end-to-end."""
    from concurrent.futures import ThreadPoolExecutor

    from realtime_datawarehouse_spark.operators import table_store, textops
    from realtime_datawarehouse_spark.streaming import pipelines

    vpath = str(tmp_path / "vocab")
    day0 = _docs_df(spark, [(900 + i, "abab abab abab") for i in range(4)])
    m0 = [
        (r.left, r.right)
        for r in textops.bpe_train(day0, 4).orderBy("step").collect()
    ]
    r0 = pipelines._bpe_ratio_milli(
        textops.bpe_encode_vocab(day0, merges=m0)
    )
    pipelines.install_bpe_vocab(spark, vpath, m0, 0, r0)

    # two drifted families with DISJOINT pair statistics → different
    # retrained merge tables; both fire at batch_id=1 → same target v2
    fam = {
        "x": _docs_df(spark, [(i, " ".join(["xyxy"] * 20))
                              for i in range(6)]),
        "q": _docs_df(spark, [(100 + i, " ".join(["qzqz"] * 20))
                              for i in range(6)]),
    }

    def run(tag):
        rep: dict = {}
        fired = pipelines.ingest_bpe_step(
            spark, fam[tag], vpath, str(tmp_path / f"enc_{tag}"), 1,
            corpus_provider=lambda s: day0.unionByName(fam[tag]),
            report=rep,
        )
        return fired, rep["installed_vocab_ver"]

    with ThreadPoolExecutor(2) as ex:
        futs = {t: ex.submit(run, t) for t in fam}
        got = {t: f.result() for t, f in futs.items()}
    assert all(fired for (fired, _) in got.values())
    installed = sorted(v for (_, v) in got.values())
    assert len(set(installed)) == 2, f"collided installs: {got}"
    vers = sorted(
        r.vocab_ver
        for r in table_store.read_state(spark, vpath)
        .select("vocab_ver").distinct().collect()
    )
    assert vers == [0] + installed
    # every installed version reads back intact
    for v in installed:
        _, merges_v, ratio_v = pipelines.read_bpe_vocab(spark, vpath, v)
        assert merges_v and ratio_v is not None


def test_production_ingest_step_replay_is_idempotent(spark, tmp_path):
    """foreachBatch crash-replay contract of the COMPOSED loop: re-running
    a step with the same batch_id leaves all standing tables (round 12:
    including the BPE encodings) byte-identical (every write is a
    versioned merge_upsert keyed by the batch id)."""
    from pyspark.sql import functions as F  # noqa: F401

    from realtime_datawarehouse_spark.operators import (
        similarity,
        table_store,
        textops,
    )
    from realtime_datawarehouse_spark.streaming import pipelines

    def docs(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, embedding array<float>"
        )

    base = " ".join(f"w{i:02d}" for i in range(30))
    vec = [float(i) for i in range(8)]
    b0 = docs([(1, base, vec), (2, base, [v + 1 for v in vec])])
    b1 = docs([(3, base, [v + 2 for v in vec]), (4, "other text", vec)])
    centroids = similarity._ivf_centroids(
        spark.createDataFrame(
            [(1, vec), (2, [v + 3 for v in vec])],
            "vec_id long, embedding array<float>",
        )
    )
    s = str(tmp_path / "t")
    paths = (f"{s}/sigs", f"{s}/flags", f"{s}/comps", f"{s}/ivf")
    full_docs = b0.unionByName(b1).select("doc_id", "text")
    m0 = [
        (r.left, r.right)
        for r in textops.bpe_train(full_docs, 4).orderBy("step").collect()
    ]
    pipelines.install_bpe_vocab(
        spark, f"{s}/vocab", m0, 0,
        pipelines._bpe_ratio_milli(
            textops.bpe_encode_vocab(full_docs, merges=m0)
        ),
    )
    bpe = dict(bpe_vocab_path=f"{s}/vocab", bpe_enc_path=f"{s}/enc")
    pipelines.production_ingest_step(spark, b0, centroids, *paths, 0, **bpe)
    pipelines.production_ingest_step(spark, b1, centroids, *paths, 1, **bpe)

    def snap_all():
        out = {}
        for p in paths + (f"{s}/enc",):
            df = table_store.read_state(spark, p)
            out[p] = sorted(tuple(r) for r in df.collect())
        return out

    before = snap_all()
    # batch 1 crashed after its writes; the stream replays it
    pipelines.production_ingest_step(spark, b1, centroids, *paths, 1, **bpe)
    assert snap_all() == before
    # replay produced no new store versions beyond the dedup of ver=1
    # rows (merge keyed by version col) — table contents fully stable;
    # and the flags actually flagged the planted near-dups
    flags = {
        r.doc_id: r.dup_of
        for r in table_store.read_state(spark, f"{s}/flags").collect()
    }
    assert flags.get(3) in (1, 2)

    # round 10 (VERDICT r9 item 4): replay across a COMPACTION boundary.
    # batch 2 triggers the cadence (compact_every=2) — compaction is
    # pure re-layout, and a replayed merge re-derives the same rows
    # whatever the file layout, so contents stay byte-identical while
    # the snapshot's file count drops to the compaction target.
    b2 = docs([(5, base + " tail", [v + 4 for v in vec])])
    # the frontier a concurrent consistent reader may have picked is the
    # CURRENT head right before batch 2 runs (batch 1's version)
    frontier_before_b2 = {p: table_store.current_version(p) for p in paths}
    pipelines.production_ingest_step(
        spark, b2, centroids, *paths, 2, compact_every=2, **bpe
    )
    after_compact = snap_all()
    # ADVICE r12: the cadence compaction is a SECOND commit of batch 2,
    # so with the store-default retain=2 it would evict batch 1's
    # version — the frontier snapshot. The step passes retain=3, so that
    # version must still be retained (readable) after the compaction.
    for p, v in frontier_before_b2.items():
        assert v in table_store.list_versions(p), (
            f"compaction evicted the pre-batch frontier version {v} of {p}"
        )

    def n_files(p):
        import glob
        import os

        v = table_store.current_version(p)
        return len(glob.glob(os.path.join(p, v, "**", "*.parquet"),
                             recursive=True))

    compacted_files = {p: n_files(p) for p in paths + (f"{s}/enc",)}
    assert all(n <= 8 for n in compacted_files.values()), compacted_files
    # crash AFTER the compaction: the stream replays batch 2 (merges +
    # the cadence compaction re-run) — end state identical
    pipelines.production_ingest_step(
        spark, b2, centroids, *paths, 2, compact_every=2, **bpe
    )
    assert snap_all() == after_compact


# ---------------------------------------------------------------------------
# Quality-classifier model refresh (round 11, VERDICT r10 item 1): the
# measure→act loop for the trained quality weights — PSI drift trigger,
# embedded-model atomic swap, embedded-first serving, composed-loop wiring.
# ---------------------------------------------------------------------------


def _const_weights(spark, w):
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import textops

    return spark.range(textops.CLS_DIM).select(
        F.col("id").alias("bucket"), F.lit(w).cast("long").alias("w_milli")
    )


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_quality_refresh_policy_triggers_on_planted_drift_only(
    spark, tmp_path
):
    """`quality_refresh_if_needed` must (a) SKIP a zero-drift table (no
    commit, returns False), (b) TRIGGER once planted drift pushes the
    standing-vs-snapshot PSI past the threshold, and (c) self-heal: the
    refresh snapshots the NEW distribution, so post-refresh PSI is
    exactly 0 and a replayed trigger batch skips."""
    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.streaming import pipelines

    w500 = _const_weights(spark, 500)
    path = str(tmp_path / "quality")
    # day-0 corpus: 10 docs of 2 tokens → margin 1000 → bin 5
    b0 = _docs_df(spark, [(i, "tok tok") for i in range(10)])
    pipelines.ingest_quality_step(spark, b0, path, 0, weights=w500)
    pipelines.refresh_quality_model(
        spark, path, b0, refresh_id=0, new_weights=w500
    )
    assert pipelines.quality_drift_psi6(spark, path) == 0
    v_before = set(table_store.list_versions(path))
    assert (
        pipelines.quality_refresh_if_needed(
            spark, path, b0, refresh_id=1, new_weights=w500
        )
        is False
    )
    assert set(table_store.list_versions(path)) == v_before

    # drift: 10 docs of 50 tokens → margin 25000 → clamped edge bin 9
    b1 = _docs_df(
        spark, [(100 + i, " ".join(["tok"] * 50)) for i in range(10)]
    )
    pipelines.ingest_quality_step(spark, b1, path, 1)
    psi = pipelines.quality_drift_psi6(spark, path)
    assert psi > pipelines.QUALITY_PSI_MAX6_DEFAULT, psi
    corpus = b0.unionByName(b1)
    assert (
        pipelines.quality_refresh_if_needed(
            spark, path, corpus, refresh_id=2, new_weights=w500
        )
        is True
    )
    # self-healing replay: the refreshed snapshot IS the new
    # distribution, so the re-run of the trigger check skips
    assert pipelines.quality_drift_psi6(spark, path) == 0
    v_after = set(table_store.list_versions(path))
    assert (
        pipelines.quality_refresh_if_needed(
            spark, path, corpus, refresh_id=2, new_weights=w500
        )
        is False
    )
    assert set(table_store.list_versions(path)) == v_after


def test_quality_embedded_model_serves_and_swap_is_atomic(spark, tmp_path):
    """Embedded-first scoring + the one-commit swap: batches ingested
    with NO weights argument must score under the table's embedded
    model; after a refresh installs model B, the whole standing table
    (rescored corpus + later batches) must be row-identical to the
    direct serve path under B; and a refresh that loses a CAS race
    retries against the new head (ConcurrentCommitError discipline)."""
    from realtime_datawarehouse_spark.operators import table_store, textops
    from realtime_datawarehouse_spark.streaming import pipelines

    w_a = _const_weights(spark, 500)
    w_b = _const_weights(spark, -500)
    path = str(tmp_path / "quality")
    b0 = _docs_df(spark, [(1, "x y"), (2, "x y z")])
    pipelines.ingest_quality_step(spark, b0, path, 0, weights=w_a)
    pipelines.refresh_quality_model(
        spark, path, b0, refresh_id=0, new_weights=w_a
    )
    # embedded-first: no weights arg → model A (margins positive)
    b1 = _docs_df(spark, [(3, "p q r s")])
    pipelines.ingest_quality_step(spark, b1, path, 1)
    _, _, scores = pipelines.read_quality_state(spark, path)
    assert {r.doc_id: r.margin_milli for r in scores.collect()} == {
        1: 1000,
        2: 1500,
        3: 2000,
    }

    # refresh to model B with ONE injected CAS loss: the retry must
    # recompute against the new head and land
    corpus = b0.unionByName(b1)
    real_commit = table_store.commit
    fails = {"n": 0}

    def flaky_commit(df, p, **kw):
        if fails["n"] == 0:
            fails["n"] += 1
            raise table_store.ConcurrentCommitError("injected race")
        return real_commit(df, p, **kw)

    try:
        table_store.commit = flaky_commit
        pipelines.refresh_quality_model(
            spark, path, corpus, refresh_id=2, new_weights=w_b
        )
    finally:
        table_store.commit = real_commit
    assert fails["n"] == 1
    b2 = _docs_df(spark, [(4, "m n")])
    pipelines.ingest_quality_step(spark, b2, path, 3)  # embedded B now
    weights, snapshot, scores = pipelines.read_quality_state(spark, path)
    assert {r.bucket: r.w_milli for r in weights.collect()} == {
        b: -500 for b in range(textops.CLS_DIM)
    }
    direct = textops.quality_classifier(
        corpus.unionByName(b2), weights=w_b
    ).select("doc_id", "margin_milli", "keep")
    got = sorted(tuple(r) for r in scores.collect())
    want = sorted(tuple(r) for r in direct.collect())
    assert got == want
    # snapshot rows survived the later merge (reserved keys untouched)
    assert sum(r.ct for r in snapshot.collect()) == 3  # corpus at refresh


def test_composed_loop_quality_refresh_measure_act(spark, tmp_path):
    """The composed loop's quality-model cadence: with a day-0 model
    installed, `production_ingest_step(quality_refresh_every=...,
    quality_corpus_provider=...)` must retrain (default GD path, label
    column from the provider corpus) exactly when the standing PSI
    crosses the threshold, and the post-refresh standing table must be
    row-identical to the direct serve path under the NEW embedded
    weights (loop ≡ direct, the trained-eval contract)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import table_store, textops
    from realtime_datawarehouse_spark.streaming import pipelines

    w500 = _const_weights(spark, 500)
    root = str(tmp_path / "loop")
    paths = (f"{root}/sigs", f"{root}/flags", f"{root}/comps", f"{root}/ivf")
    qpath = f"{root}/quality"
    short = [(i, "tok tok", 1) for i in range(8)]
    longd = [(100 + i, " ".join(["tok"] * 50), 0) for i in range(8)]
    all_rows = short + longd
    labeled = spark.createDataFrame(
        all_rows, "doc_id long, text string, label int"
    )

    def batch(rows):
        return spark.createDataFrame(
            [r[:2] for r in rows], "doc_id long, text string"
        )

    # batch 0 + day-0 install (short corpus, stale const weights)
    pipelines.production_ingest_step(
        spark, batch(short), None, *paths, 0, quality_path=qpath,
        quality_weights=w500,
    )
    pipelines.refresh_quality_model(
        spark, qpath, batch(short), refresh_id=0, new_weights=w500
    )
    v0 = len(table_store.list_versions(qpath))
    # batch 1: still short-shaped → cadence (every batch) measures ~0
    # drift and must NOT refresh
    pipelines.production_ingest_step(
        spark, batch([(200, "tok tok")]),
        None, *paths, 1, quality_path=qpath, quality_refresh_every=1,
        quality_corpus_provider=lambda s: labeled,
    )
    _, _, scores1 = pipelines.read_quality_state(spark, qpath)
    assert {r.margin_milli for r in scores1.collect()} == {1000}
    # batch 2: the long tail lands → PSI fires → GD retrain on the
    # labeled provider corpus → atomic swap → standing ≡ direct
    pipelines.production_ingest_step(
        spark, batch(longd), None, *paths, 2, quality_path=qpath,
        quality_refresh_every=2, quality_corpus_provider=lambda s: labeled,
    )
    weights, snapshot, scores = pipelines.read_quality_state(spark, qpath)
    assert weights is not None
    trained = {r.bucket: r.w_milli for r in weights.collect()}
    assert set(trained.values()) != {500}  # a retrain actually landed
    direct = textops.quality_classifier(
        labeled.select("doc_id", "text"), weights=weights
    ).select("doc_id", "margin_milli", "keep")
    got = {r.doc_id: (r.margin_milli, r.keep) for r in scores.collect()}
    want = {
        r.doc_id: (r.margin_milli, r.keep)
        for r in direct.collect()
        if r.doc_id in got
    }
    assert {k: v for k, v in got.items() if k != 200} == {
        k: v for k, v in want.items() if k != 200
    }
    # post-refresh drift is zero → a replayed cadence point skips
    assert pipelines.quality_drift_psi6(spark, qpath) == 0
    assert len(table_store.list_versions(qpath)) >= v0


def test_compaction_gate_uses_persisted_bucket_spec(spark, tmp_path):
    """ADVICE r10: the compaction cadence must consult each TABLE's
    persisted _BUCKETING spec, not the call-site ``buckets`` argument —
    a step run with buckets=None over tables CREATED bucketed merges
    bucketed (per the spec) and must NOT compact them back flat."""
    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.streaming import pipelines

    root = str(tmp_path / "gate")
    paths = (f"{root}/sigs", f"{root}/flags", f"{root}/comps", f"{root}/ivf")
    qpath = f"{root}/quality"
    base = " ".join(f"w{i:02d}" for i in range(30))
    b0 = _docs_df(spark, [(1, base), (2, base + " x")])
    pipelines.production_ingest_step(
        spark, b0, None, *paths, 0, quality_path=qpath, buckets=2
    )
    assert table_store.bucket_spec_of(qpath) == {"pk": "doc_id", "n": 2}
    # buckets=None + compact_every=1 at a cadence point: pre-fix this
    # re-flattened the bucketed tables; the spec gate must skip them
    b1 = _docs_df(spark, [(3, "other words entirely here now")])
    pipelines.production_ingest_step(
        spark, b1, None, *paths, 2, quality_path=qpath,
        compact_every=1, buckets=None,
    )
    # flags is created only by the SECOND step (no corpus to flag against
    # at batch 0), under buckets=None → legitimately flat; the three
    # tables created bucketed at batch 0 must stay bucketed
    assert table_store.bucket_spec_of(f"{root}/flags") is None
    for p in (qpath, f"{root}/sigs", f"{root}/comps"):
        v = table_store.current_version(p)
        assert table_store._dir_is_bucketed(f"{p}/{v}"), p
    got = {
        r.doc_id: r.margin_milli
        for r in table_store.read_state(spark, qpath)
        .where("doc_id >= 0")
        .collect()
    }
    assert set(got) == {1, 2, 3}


# ---------------------------------------------------------------------------
# BPE vocabulary refresh (round 11, VERDICT r10 item 2): versioned vocab
# table, compression-ratio trigger, re-encode-only-new, replay idempotency.
# ---------------------------------------------------------------------------


def test_bpe_vocab_refresh_trigger_and_old_rows_stay_valid(spark, tmp_path):
    """The vocab measure→act loop on a controlled corpus: (a) a warm
    same-distribution batch does NOT fire; (b) a planted-drift batch
    (disjoint character pairs) fires, retrains on the accumulated
    corpus, and installs a NEW vocab version WITHOUT touching old
    encoding rows; (c) later batches encode under the new version;
    (d) every stored row re-encodes bit-identically under ITS recorded
    vocab version; (e) replaying the trigger batch is idempotent (the
    already-installed vocab_ver is skipped, the enc merge re-derives
    the same rows)."""
    from pyspark.sql import functions as F  # noqa: F401

    from realtime_datawarehouse_spark.operators import table_store, textops
    from realtime_datawarehouse_spark.streaming import pipelines

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    vpath = str(tmp_path / "vocab")
    epath = str(tmp_path / "enc")
    b0 = docs([(i, "abab abab abab") for i in range(6)])
    m1 = [
        (r.left, r.right)
        for r in textops.bpe_train(b0, 4).orderBy("step").collect()
    ]
    assert m1  # the corpus sustains at least one merge
    r1 = pipelines._bpe_ratio_milli(
        textops.bpe_encode_vocab(b0, merges=m1)
    )
    pipelines.install_bpe_vocab(spark, vpath, m1, 0, r1)
    assert pipelines.ingest_bpe_step(spark, b0, vpath, epath, 0) is False

    # (a) warm batch: identical distribution → ratio == snapshot
    warm = docs([(10, "abab abab")])
    acc = b0.unionByName(warm)
    assert (
        pipelines.ingest_bpe_step(
            spark, warm, vpath, epath, 1,
            corpus_provider=lambda s: acc,
        )
        is False
    )
    # (b) drift: disjoint pairs → nothing merges → ratio 1000 ≫ snapshot
    drift = docs([(20 + j, "xyxy xyxy xyxy") for j in range(12)])
    acc3 = acc.unionByName(drift)
    fired = pipelines.ingest_bpe_step(
        spark, drift, vpath, epath, 2, corpus_provider=lambda s: acc3
    )
    assert fired is True
    vv, m2, r2 = pipelines.read_bpe_vocab(spark, vpath)
    assert vv == 2 and m2 != m1
    # old versions stay readable; drift batch's rows stay on vocab 0
    vv0, m1_back, r1_back = pipelines.read_bpe_vocab(spark, vpath, 0)
    assert (vv0, m1_back, r1_back) == (0, m1, r1)
    enc = table_store.read_state(spark, epath)
    by_ver = {
        int(r.doc_id): int(r.vocab_ver) for r in enc.collect()
    }
    assert by_ver == {i: 0 for i in range(6)} | {10: 0} | {
        20 + j: 0 for j in range(12)
    }

    # (c) a later batch encodes under the refreshed vocab
    post = docs([(50, "xyxy xyxy")])
    acc4 = acc3.unionByName(post)
    assert (
        pipelines.ingest_bpe_step(
            spark, post, vpath, epath, 3,
            corpus_provider=lambda s: acc4,
        )
        is False
    )
    enc = table_store.read_state(spark, epath)
    assert {
        int(r.doc_id): int(r.vocab_ver) for r in enc.collect()
    }[50] == 2

    # (d) every stored row re-encodes bit-identically under ITS vocab
    for v, merges in ((0, m1), (2, m2)):
        stored = enc.where(F.col("vocab_ver") == v).select(
            "doc_id", "tokens_before", "tokens_after"
        )
        subset = acc4.join(stored.select("doc_id"), "doc_id")
        direct = textops.bpe_encode_vocab(subset, merges=merges)
        assert (
            stored.exceptAll(direct).count()
            + direct.exceptAll(stored).count()
            == 0
        ), f"vocab_ver {v} rows invalid"

    # (e) replay of the trigger batch AFTER its refresh landed: the
    # replay re-encodes under the CURRENT (refreshed) vocab — replacing
    # its earlier attempt, the documented incoming-wins-at-equal-version
    # merge rule — and the refreshed vocab covers the drift, so the
    # trigger self-heals into the skip path: no re-fire, no third vocab
    # version, and the batch's rows are re-recorded under vocab 2 and
    # still bit-valid under it (same contract as ingest_ivf_step
    # replayed across a codebook refresh)
    refired = pipelines.ingest_bpe_step(
        spark, drift, vpath, epath, 2, corpus_provider=lambda s: acc3
    )
    assert refired is False
    vers = sorted(
        r.vocab_ver
        for r in table_store.read_state(spark, vpath)
        .select("vocab_ver").distinct().collect()
    )
    assert vers == [0, 2]
    enc2 = table_store.read_state(spark, epath)
    replayed = enc2.where(F.col("doc_id") >= 20).where(
        F.col("doc_id") < 40
    )
    assert {int(r.vocab_ver) for r in replayed.collect()} == {2}
    stored = replayed.select("doc_id", "tokens_before", "tokens_after")
    direct = textops.bpe_encode_vocab(
        acc4.join(stored.select("doc_id"), "doc_id"), merges=m2
    )
    assert (
        stored.exceptAll(direct).count()
        + direct.exceptAll(stored).count()
        == 0
    )


def test_bpe_corpus_pipeline_stream_matches_step_replay(spark, tmp_path):
    """The foreachBatch builder wires the step 1:1: a two-micro-batch
    stream (day-0 vocab installed up front) ends with the same enc table
    a direct step replay produces, refresh included."""
    from pyspark.sql import functions as F  # noqa: F401

    from realtime_datawarehouse_spark.operators import table_store, textops
    from realtime_datawarehouse_spark.streaming import pipelines

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    b0 = docs([(i, "abab abab abab") for i in range(4)])
    b1 = docs([(20, "xyxy xyxy xyxy"), (21, "xyxy xyxy")])
    full = b0.unionByName(b1)
    m1 = [
        (r.left, r.right)
        for r in textops.bpe_train(b0, 4).orderBy("step").collect()
    ]
    r1 = pipelines._bpe_ratio_milli(
        textops.bpe_encode_vocab(b0, merges=m1)
    )

    in_dir = str(tmp_path / "in")
    for b in (b0, b1):
        _append_in_order(b, in_dir)

    def run(root, via_stream):
        vpath, epath = f"{root}/vocab", f"{root}/enc"
        pipelines.install_bpe_vocab(spark, vpath, m1, 0, r1)
        if via_stream:
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            q = (
                pipelines.bpe_corpus_pipeline(
                    stream, vpath, epath,
                    corpus_provider=lambda s: full,
                )
                .option(
                    "checkpointLocation", f"{root}/ck"
                )
                .start()
            )
            q.processAllAvailable()
            q.stop()
        else:
            pipelines.ingest_bpe_step(
                spark, b0, vpath, epath, 0,
                corpus_provider=lambda s: full,
            )
            pipelines.ingest_bpe_step(
                spark, b1, vpath, epath, 1,
                corpus_provider=lambda s: full,
            )
        enc = table_store.read_state(spark, epath).drop("ver")
        vocab = table_store.read_state(spark, vpath)
        return (
            sorted(tuple(r) for r in enc.collect()),
            sorted(
                tuple(r)
                for r in vocab.select("vocab_ver", "step", "left", "right")
                .collect()
            ),
        )

    streamed = run(str(tmp_path / "s"), True)
    replayed = run(str(tmp_path / "r"), False)
    assert streamed == replayed


# ---------------------------------------------------------------------------
# Two CONCURRENT composed-loop writers (round 11, VERDICT r10 item 3): the
# CAS arbiter and single-writer replay were pinned; this races two
# production_ingest_step writers on the SAME five standing tables.
# ---------------------------------------------------------------------------


def _composed_loop_batches(spark):
    """Each writer's three 2-doc batches, (a_batches, b_batches), and the
    IVF centroids. Each family plants in-family dups (identical text), so
    flags and components are non-trivial; the families share no token,
    so there are no cross-writer candidate pairs."""
    from realtime_datawarehouse_spark.operators import similarity

    def fam(prefix, base_id):
        text = " ".join(f"{prefix}{i:02d}" for i in range(30))
        other = " ".join(f"{prefix}x{i:02d}" for i in range(30))
        rows = [
            (base_id + 0, text, [1.0 * ord(prefix[0]), 0.0, 1.0, 0.0]),
            (base_id + 1, text, [1.0 * ord(prefix[0]), 0.5, 0.0, 1.0]),
            (base_id + 2, other, [0.5 * ord(prefix[0]), 1.0, 0.0, 0.0]),
            (base_id + 3, other + " tail", [0.0, 1.0, 1.0 * ord(prefix[0]), 0.0]),
            (base_id + 4, text + " tail2", [0.0, 0.0, 1.0, 1.0]),
            (base_id + 5, f"{prefix} lone words here now", [1.0, 1.0, 0.0, 0.0]),
        ]
        return [
            spark.createDataFrame(
                rows[2 * i: 2 * i + 2],
                "doc_id long, text string, embedding array<double>",
            )
            for i in range(3)
        ]

    centroids = similarity._ivf_centroids(
        spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
    )
    return fam("aw", 0), fam("bw", 100), centroids


def _run_composed_loop_writers(spark, root, batches, racing):
    """Both writers' production_ingest_step runs into ONE set of standing
    tables under ``root``: racing = two threads, barrier-synced per
    batch so every round genuinely overlaps; otherwise writer A's
    batches, then writer B's. Returns {table: sorted rows}."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.streaming import pipelines

    a_batches, b_batches, centroids = batches
    paths = tuple(f"{root}/{t}" for t in ("sigs", "flags", "comps", "ivf"))
    q = f"{root}/quality"
    barrier = threading.Barrier(2)

    def steps(bs):
        for i, b in enumerate(bs):
            if racing:
                barrier.wait(timeout=120)
            pipelines.production_ingest_step(
                spark, b, centroids, *paths, i, quality_path=q
            )

    if racing:
        with ThreadPoolExecutor(2) as ex:
            futs = [ex.submit(steps, bs) for bs in (a_batches, b_batches)]
            for f in futs:
                f.result()  # re-raise any writer failure
    else:
        steps(a_batches)
        steps(b_batches)
    out = {}
    for p in paths + (q,):
        df = table_store.read_state(spark, p)
        drop = [c for c in ("ver", "batch_id") if c in df.columns]
        out[p.rsplit("/", 1)[-1]] = sorted(
            tuple(r) for r in df.drop(*drop).collect()
        )
    return out


@pytest.fixture(scope="module")
def composed_loop_serialized(spark, tmp_path_factory):
    """The composed-loop batches and their SERIALIZED reference end state,
    shared by both backends' race: (batches, {table: sorted rows})."""
    batches = _composed_loop_batches(spark)
    root = str(tmp_path_factory.mktemp("composed_serial"))
    return batches, _run_composed_loop_writers(spark, root, batches, False)


@pytest.mark.parametrize("backend_kind", ["local", "object-faulted"])
def test_two_concurrent_composed_loop_writers(
    spark, tmp_path, backend_kind, composed_loop_serialized
):
    """TWO production_ingest_step writers (threads, barrier-synced per
    batch so every round genuinely overlaps) ingest disjoint doc
    families into ONE set of standing tables. Every cross-writer
    conflict must be absorbed by the documented ConcurrentCommitError
    retry (tallied — the race must actually happen), and the merged end
    state must equal a SERIALIZED reference execution of the same
    batches (disjoint families ⇒ no cross-writer candidate pairs ⇒ the
    serialized state is the unique correct answer). The object-faulted
    variant additionally runs the whole race through the paging +
    503-throwing store behind the retry client."""
    from realtime_datawarehouse_spark.operators import object_store, table_store

    batches, serialized = composed_loop_serialized
    prev_arb = table_store._ARBITER
    conflicts = {"n": 0}
    real_commit = table_store.commit

    def counting_commit(df, p, **kw):
        try:
            return real_commit(df, p, **kw)
        except table_store.ConcurrentCommitError:
            conflicts["n"] += 1
            raise

    try:
        if backend_kind == "object-faulted":
            table_store.set_arbiter(
                object_store.ObjectStoreCASArbiter(
                    object_store.RetryingStoreClient(
                        object_store.FaultInjectingObjectStore(
                            object_store.InMemoryObjectStore(page_size=2),
                            throttle_every=3,
                        )
                    )
                )
            )
        table_store.commit = counting_commit
        raced = _run_composed_loop_writers(
            spark, str(tmp_path / "raced"), batches, racing=True
        )
    finally:
        table_store.commit = real_commit
        table_store.set_arbiter(prev_arb)

    assert set(raced) == set(serialized)
    for t in raced:
        assert raced[t] == serialized[t], f"table {t} diverged under race"
    # the race genuinely happened: barrier-synced writers contending on
    # five shared tables across three rounds must surface at least one
    # CAS conflict, absorbed by merge_upsert's bounded retry
    assert conflicts["n"] >= 1, "no ConcurrentCommitError was exercised"


def test_two_writers_race_across_quality_and_vocab_refreshes(
    spark, tmp_path
):
    """Round 12 (VERDICT r11 item 3): the r11 race covered the
    five-table loop; this races TWO production_ingest_step writers
    whose run CROSSES BOTH r11 refresh kinds — writer B's final batch
    fires the BPE vocab-ratio trigger (retrain + CAS install of v1)
    while writer A's final batch crosses the quality-PSI cadence
    (retrain + full-state model swap) — all against ONE set of seven
    standing tables, barrier-synced per round so the refreshes
    genuinely overlap the other writer's merges. End state must equal
    a SERIALIZED execution on every deterministic axis; the one
    documented nondeterminism — which vocab version a batch racing the
    install encodes under — is pinned by the r11 contract instead:
    every encodings row re-encodes bit-identically under its RECORDED
    vocab_ver. Both retrain corpora are fixed frames (the lake), so
    refresh outputs are order-independent; a double-fired quality
    refresh converges through the CAS retry to the identical state."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import (
        similarity,
        table_store,
        textops,
    )
    from realtime_datawarehouse_spark.streaming import pipelines

    # one word TYPE per family (token-disjoint across families, so the
    # serialized state is the unique correct dedup answer) and a 4-merge
    # day-0 vocab that covers both families FULLY — warm batches then
    # sit strictly below the training snapshot and only the planted
    # orthography shift fires
    long_a = " ".join(["abab"] * 30)
    long_b = " ".join(["cdcd"] * 30)
    drift = " ".join(["xyxy"] * 30)

    def fam(base_id, texts):
        vec = [1.0, 0.0, 0.5, 0.0]
        return [
            spark.createDataFrame(
                [
                    (base_id + 2 * i, t, vec),
                    (base_id + 2 * i + 1, t + " tail", vec),
                ],
                "doc_id long, text string, embedding array<double>",
            )
            for i, t in enumerate(texts)
        ]

    a_batches = fam(0, [long_a, long_a])
    b_batches = fam(100, [long_b, drift])
    day0 = spark.createDataFrame(
        [(900, "tiny one"), (901, "tiny two")], "doc_id long, text string"
    )
    lake = day0
    for b in a_batches + b_batches:
        lake = lake.unionByName(b.select("doc_id", "text"))
    centroids = similarity._ivf_centroids(
        spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
    )
    stale_w = _const_weights(spark, 500)
    fresh_w = _const_weights(spark, 300)
    m0 = [
        (r.left, r.right)
        for r in textops.bpe_train(
            day0.unionByName(
                a_batches[0].select("doc_id", "text")
            ).unionByName(b_batches[0].select("doc_id", "text")),
            4,
        ).orderBy("step").collect()
    ]

    def run_writers(root, racing):
        p = {
            n: f"{root}/{n}"
            for n in ("sigs", "flags", "comps", "ivf", "quality",
                      "vocab", "enc")
        }
        pipelines.install_bpe_vocab(
            spark, p["vocab"], m0, 0,
            pipelines._bpe_ratio_milli(
                textops.bpe_encode_vocab(
                    day0.unionByName(
                        a_batches[0].select("doc_id", "text")
                    ).unionByName(b_batches[0].select("doc_id", "text")),
                    merges=m0,
                )
            ),
        )
        pipelines.ingest_quality_step(
            spark, day0, p["quality"], 0, weights=stale_w
        )
        pipelines.refresh_quality_model(
            spark, p["quality"], day0, refresh_id=0, new_weights=stale_w
        )

        def steps(batches):
            for i, b in enumerate(batches):
                if racing:
                    barrier.wait(timeout=180)
                pipelines.production_ingest_step(
                    spark, b, centroids,
                    p["sigs"], p["flags"], p["comps"], p["ivf"],
                    batch_id=i, quality_path=p["quality"],
                    quality_refresh_every=1,
                    quality_corpus_provider=lambda s: lake,
                    quality_refresh_weights_provider=lambda s: fresh_w,
                    bpe_vocab_path=p["vocab"], bpe_enc_path=p["enc"],
                    bpe_corpus_provider=lambda s: lake,
                )

        if racing:
            barrier = threading.Barrier(2)
            with ThreadPoolExecutor(2) as ex:
                futs = [
                    ex.submit(steps, bs) for bs in (a_batches, b_batches)
                ]
                for f in futs:
                    f.result()
        else:
            steps(a_batches)
            steps(b_batches)
        return p

    conflicts = {"n": 0}
    real_commit = table_store.commit

    def counting_commit(df, pth, **kw):
        try:
            return real_commit(df, pth, **kw)
        except table_store.ConcurrentCommitError:
            conflicts["n"] += 1
            raise

    try:
        table_store.commit = counting_commit
        raced = run_writers(str(tmp_path / "raced"), racing=True)
    finally:
        table_store.commit = real_commit
    serial = run_writers(str(tmp_path / "serial"), racing=False)

    def snap(p, name, cols=None):
        df = table_store.read_state(spark, f"{p[name]}")
        drop = [c for c in ("ver", "batch_id") if c in df.columns]
        df = df.drop(*drop)
        if cols:
            df = df.select(*cols)
        return sorted(tuple(r) for r in df.collect())

    # deterministic axes: exact equality (both refresh kinds landed)
    for t in ("sigs", "flags", "comps", "ivf", "quality", "vocab"):
        assert snap(raced, t) == snap(serial, t), f"table {t} diverged"
    vers = sorted(
        r.vocab_ver
        for r in table_store.read_state(spark, raced["vocab"])
        .select("vocab_ver").distinct().collect()
    )
    assert vers == [0, 1], "vocab install did not land mid-race"
    w_emb, _, _ = pipelines.read_quality_state(spark, raced["quality"])
    assert {r.w_milli for r in w_emb.collect()} == {300}, (
        "quality refresh did not land mid-race"
    )
    # encodings: coverage + vocab-independent counts equal; each row
    # bit-valid under its RECORDED vocab version (the r11 contract —
    # which version a batch racing the install used is the one
    # documented nondeterminism)
    assert snap(raced, "enc", ["doc_id", "tokens_before"]) == snap(
        serial, "enc", ["doc_id", "tokens_before"]
    )
    enc = table_store.read_state(spark, raced["enc"])
    for vv in sorted(
        {r.vocab_ver for r in enc.select("vocab_ver").distinct().collect()}
    ):
        _, merges_v, _ = pipelines.read_bpe_vocab(
            spark, raced["vocab"], vocab_ver=int(vv)
        )
        subset = lake.join(
            enc.where(F.col("vocab_ver") == vv).select("doc_id"), "doc_id"
        )
        direct = textops.bpe_encode_vocab(subset, merges=merges_v)
        stored = enc.where(F.col("vocab_ver") == vv).select(
            "doc_id", "tokens_before", "tokens_after"
        )
        assert (
            stored.exceptAll(direct).count()
            + direct.exceptAll(stored).count()
            == 0
        ), f"enc rows invalid under recorded vocab_ver {vv}"
    assert conflicts["n"] >= 1, "no ConcurrentCommitError was exercised"


def test_concurrent_bpe_vocab_installs_race_cleanly(spark, tmp_path):
    """Two writers install vocab versions CONCURRENTLY through the CAS
    append: distinct vocab_vers both land (the loser recomputes against
    the new head and retries), racing duplicate installs of the SAME
    vocab_ver end with exactly one copy of its rows (the replay-skip
    path), and every historical version stays readable afterward."""
    from concurrent.futures import ThreadPoolExecutor

    from realtime_datawarehouse_spark.operators import table_store
    from realtime_datawarehouse_spark.streaming import pipelines

    vpath = str(tmp_path / "vocab")

    def install(ver, tag):
        pipelines.install_bpe_vocab(
            spark, vpath, [(tag, tag)], vocab_ver=ver, ratio_milli=ver
        )

    with ThreadPoolExecutor(4) as ex:
        futs = [ex.submit(install, v, f"m{v}") for v in (1, 2, 3, 4)]
        for f in futs:
            f.result()
    # duplicate-install race on one ver (replay after a crash, twice)
    with ThreadPoolExecutor(2) as ex:
        futs = [ex.submit(install, 5, "m5") for _ in range(2)]
        for f in futs:
            f.result()
    state = table_store.read_state(spark, vpath)
    rows = [tuple(r) for r in state.collect()]
    # 5 versions × (1 snapshot row + 1 merge row), no duplicates
    assert len(rows) == len(set(rows)) == 10
    for v in range(1, 6):
        vv, merges, ratio = pipelines.read_bpe_vocab(spark, vpath, v)
        assert (vv, merges, ratio) == (v, [(f"m{v}", f"m{v}")], v)
    assert pipelines.read_bpe_vocab(spark, vpath)[0] == 5  # newest wins


def test_bpe_batch0_trigger_does_not_collide_with_day0_vocab(
    spark, tmp_path
):
    """ADVICE r11 (low): foreachBatch ids start at 0 and the day-0
    convention installs vocab_ver=0 — a drift trigger on the FIRST
    batch used to target vocab_ver=batch_id=0, which install_bpe_vocab
    silently skipped as a replay: the refreshed vocab was lost and the
    trigger retrained on every later batch. The install must land under
    a fresh version (max(batch_id, newest+1) = 1) and a replay of the
    same batch must self-heal (no re-fire, no third version)."""
    from realtime_datawarehouse_spark.operators import table_store, textops
    from realtime_datawarehouse_spark.streaming import pipelines

    vpath = str(tmp_path / "vocab")
    epath = str(tmp_path / "enc")
    day0 = _docs_df(spark, [(100 + i, "abab abab abab") for i in range(6)])
    m0 = [
        (r.left, r.right)
        for r in textops.bpe_train(day0, 4).orderBy("step").collect()
    ]
    r0 = pipelines._bpe_ratio_milli(textops.bpe_encode_vocab(day0, merges=m0))
    pipelines.install_bpe_vocab(spark, vpath, m0, 0, r0)
    # batch 0 is ALREADY drifted (disjoint pairs): the trigger fires on
    # the loop's very first batch id
    b0 = _docs_df(spark, [(j, "xyxy xyxy xyxy") for j in range(8)])
    acc = day0.unionByName(b0)
    fired = pipelines.ingest_bpe_step(
        spark, b0, vpath, epath, 0, corpus_provider=lambda s: acc
    )
    assert fired is True
    vv, m1, _ = pipelines.read_bpe_vocab(spark, vpath)
    assert vv == 1 and m1 != m0  # landed under a FRESH version
    vers = sorted(
        r.vocab_ver
        for r in table_store.read_state(spark, vpath)
        .select("vocab_ver").distinct().collect()
    )
    assert vers == [0, 1]
    # replay of the trigger batch: re-encodes under v1, covers the
    # drift, self-heals into the skip path — no v2
    refired = pipelines.ingest_bpe_step(
        spark, b0, vpath, epath, 0, corpus_provider=lambda s: acc
    )
    assert refired is False
    assert pipelines.read_bpe_vocab(spark, vpath)[0] == 1


def test_install_bpe_vocab_content_collision_raises(spark, tmp_path):
    """Same-version re-install with IDENTICAL rows is the replay-skip
    path; same-version install with DIFFERENT content must raise (a
    silent skip would drop a refreshed vocabulary — ADVICE r11)."""
    import pytest as _pytest

    from realtime_datawarehouse_spark.streaming import pipelines

    vpath = str(tmp_path / "vocab")
    pipelines.install_bpe_vocab(spark, vpath, [("a", "b")], 0, 700)
    # identical replay → silent no-op
    pipelines.install_bpe_vocab(spark, vpath, [("a", "b")], 0, 700)
    assert pipelines.read_bpe_vocab(spark, vpath, 0)[1] == [("a", "b")]
    with _pytest.raises(ValueError, match="DIFFERENT merge table"):
        pipelines.install_bpe_vocab(spark, vpath, [("x", "y")], 0, 700)
    with _pytest.raises(ValueError, match="DIFFERENT merge table"):
        pipelines.install_bpe_vocab(spark, vpath, [("a", "b")], 0, 999)


def test_embedded_cache_invalidates_on_table_recreation(spark, tmp_path):
    """ADVICE r11 (low): the embedded-artifact cache is keyed by (table
    path, version name); delete a table directory and recreate it at
    the SAME path and version names restart, so the cache used to serve
    the DELETED table's model. The version-directory (inode, ctime)
    nonce in the key makes the recreated table's first read a miss —
    pinned here for all three embedded readers (quality model, BPE
    vocab, IVF codebook)."""
    import shutil

    from realtime_datawarehouse_spark.streaming import pipelines

    qpath = str(tmp_path / "q")
    w500, w700 = _const_weights(spark, 500), _const_weights(spark, 700)
    docs = _docs_df(spark, [(1, "a b"), (2, "c d e")])

    pipelines.ingest_quality_step(spark, docs, qpath, 0, weights=w500)
    pipelines.refresh_quality_model(
        spark, qpath, docs, refresh_id=0, new_weights=w500
    )
    w_a, _, _ = pipelines.read_quality_state(spark, qpath)
    assert {r.w_milli for r in w_a.collect()} == {500}

    shutil.rmtree(qpath)  # table dropped and recreated at the same path
    pipelines.ingest_quality_step(spark, docs, qpath, 0, weights=w700)
    pipelines.refresh_quality_model(
        spark, qpath, docs, refresh_id=0, new_weights=w700
    )
    w_b, _, _ = pipelines.read_quality_state(spark, qpath)
    assert {r.w_milli for r in w_b.collect()} == {700}, (
        "stale embedded model served after table recreation"
    )

    # BPE vocab reader: same drop-and-recreate at one path
    vpath = str(tmp_path / "v")
    pipelines.install_bpe_vocab(spark, vpath, [("a", "b")], 0, 700)
    assert pipelines.read_bpe_vocab(spark, vpath)[1] == [("a", "b")]
    shutil.rmtree(vpath)
    pipelines.install_bpe_vocab(spark, vpath, [("x", "y")], 0, 800)
    assert pipelines.read_bpe_vocab(spark, vpath)[1] == [("x", "y")]


def test_quality_refresh_on_bucketed_table_then_merge_rebuckets(
    spark, tmp_path
):
    """Interplay pin (the IVF analog of
    test_ivf_refresh_on_bucketed_index_then_merge_rebuckets): a quality
    model refresh commits a FLAT full snapshot onto a BUCKETED quality
    table; the next bucketed merge takes the documented migration path
    and the end state stays exact — model rows (negative pks) ride the
    re-bucketing like any row, and later batches still score through
    the embedded model."""
    from pyspark.sql import functions as F  # noqa: F401

    from realtime_datawarehouse_spark.operators import table_store, textops
    from realtime_datawarehouse_spark.streaming import pipelines

    w500 = _const_weights(spark, 500)
    path = str(tmp_path / "quality")
    b0 = _docs_df(spark, [(1, "a b"), (2, "c d e")])
    pipelines.ingest_quality_step(
        spark, b0, path, 0, weights=w500, buckets=4
    )
    assert table_store.bucket_spec_of(path) == {"pk": "doc_id", "n": 4}
    pipelines.refresh_quality_model(
        spark, path, b0, refresh_id=1, new_weights=w500
    )
    weights, snapshot, _ = pipelines.read_quality_state(spark, path)
    assert weights is not None and snapshot is not None
    # post-refresh bucketed merge over the flat refresh snapshot
    b1 = _docs_df(spark, [(3, "f g")])
    pipelines.ingest_quality_step(spark, b1, path, 2, buckets=4)
    v = table_store.current_version(path)
    assert table_store._dir_is_bucketed(f"{path}/{v}")  # re-bucketed
    weights2, snapshot2, scores = pipelines.read_quality_state(spark, path)
    assert weights2 is not None and snapshot2 is not None  # model survived
    direct = textops.quality_classifier(
        b0.unionByName(b1), weights=w500
    ).select("doc_id", "margin_milli", "keep")
    assert sorted(tuple(r) for r in scores.collect()) == sorted(
        tuple(r) for r in direct.collect()
    )


def test_bpe_ingest_bucketed_encodings_match_flat(spark, tmp_path):
    """ingest_bpe_step(buckets=N): the encodings table under the
    bucketed layout ends row-identical to the flat layout across a
    multi-batch history including a refresh (bucket-local
    last-write-wins is the same merge, just partitioned)."""
    from realtime_datawarehouse_spark.operators import table_store, textops
    from realtime_datawarehouse_spark.streaming import pipelines

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    b0 = docs([(i, "abab abab abab") for i in range(6)])
    b1 = docs([(20 + j, "xyxy xyxy xyxy") for j in range(12)])
    full = b0.unionByName(b1)
    m1 = [
        (r.left, r.right)
        for r in textops.bpe_train(b0, 4).orderBy("step").collect()
    ]
    r1 = pipelines._bpe_ratio_milli(
        textops.bpe_encode_vocab(b0, merges=m1)
    )

    def run(root, buckets):
        vpath, epath = f"{root}/vocab", f"{root}/enc"
        pipelines.install_bpe_vocab(spark, vpath, m1, 0, r1)
        pipelines.ingest_bpe_step(
            spark, b0, vpath, epath, 0, buckets=buckets
        )
        fired = pipelines.ingest_bpe_step(
            spark, b1, vpath, epath, 1,
            corpus_provider=lambda s: full, buckets=buckets,
        )
        assert fired is True
        enc = table_store.read_state(spark, epath).drop("ver")
        return sorted(tuple(r) for r in enc.collect())

    assert run(str(tmp_path / "flat"), None) == run(
        str(tmp_path / "bk"), 4
    )


def test_half_configured_bpe_paths_fail_loud(spark, tmp_path):
    """ADVICE r12: exactly one of bpe_vocab_path/bpe_enc_path is a
    misconfiguration, not a disabled tokenizer loop — the step must raise
    BEFORE any standing-table write, for either half."""
    s = str(tmp_path / "t")
    for half in (
        dict(bpe_vocab_path=f"{s}/vocab"),
        dict(bpe_enc_path=f"{s}/enc"),
    ):
        with pytest.raises(ValueError, match="provided together"):
            pipelines.production_ingest_step(
                spark, None, None,
                f"{s}/sigs", f"{s}/flags", f"{s}/comps", f"{s}/ivf",
                0, **half,
            )
        # loud means EARLY: nothing was written anywhere
        import os

        assert not os.path.exists(s)
