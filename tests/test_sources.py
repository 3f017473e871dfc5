"""Source-layer unit tests against the reference's golden mini-records
(FIXTURES.md §1/§2/§3) — the closest thing the reference has to test data
(rt/app/dwd/log/DwdTrafficUserJumpDetail.java:51-60,
rt/app/func/TableProcessFunction.java:78-81)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from realtime_datawarehouse_spark.sources import debezium, jdbc, literal, log_events, maxwell

GOLDEN_LOG_LINES = [
    '{"common":{"mid":"101"},"page":{"page_id":"home"},"ts":10000}',
    '{"common":{"mid":"102"},"page":{"page_id":"home"},"ts":12000}',
    '{"common":{"mid":"102"},"page":{"page_id":"good_list","last_page_id":"home"},"ts":55000}',
    '{"common":{"mid":"102"},"page":{"page_id":"good_list","last_page_id":"detail"},"ts":15000}',
    "this is not json",  # dirty route, must not crash the job
]


def test_log_parse_dirty_routing(spark):
    raw = literal.from_json_lines(spark, GOLDEN_LOG_LINES)
    clean, dirty = log_events.parse_with_dirty_routing(raw)
    assert clean.count() == 4
    d = dirty.collect()
    assert len(d) == 1 and d[0].dirty_value == "this is not json"


def test_log_split_branches(spark):
    lines = GOLDEN_LOG_LINES[:4] + [
        json.dumps(
            {
                "common": {"mid": "103"},
                "err": {"error_code": "42"},
                "page": {"page_id": "home"},
                "displays": [
                    {"item": "1", "order": "1"},
                    {"item": "2", "order": "2"},
                ],
                "ts": 99000,
            }
        ),
        json.dumps({"common": {"mid": "104"}, "start": {"entry": "icon"}, "ts": 5000}),
    ]
    clean, _ = log_events.parse_with_dirty_routing(
        literal.from_json_lines(spark, lines)
    )
    b = log_events.split_log(clean)
    assert b["page"].count() == 5  # 4 golden + the err event's page
    assert b["err"].count() == 1
    assert b["start"].count() == 1
    assert b["display"].count() == 2  # exploded
    assert b["action"].count() == 0
    # err event fans out to BOTH err and page (multi-output semantics)
    mids = {r.common.mid for r in b["page"].collect()}
    assert "103" in mids


MAXWELL_LINES = [
    # bootstrap markers → dropped by P3 (DimApp.java:133-135)
    '{"database":"gmall","table":"cart_info","type":"bootstrap-start","ts":"1","data":{}}',
    '{"database":"gmall","table":"cart_info","type":"bootstrap-complete","ts":"9","data":{}}',
    # plain insert → delta = sku_num
    '{"database":"gmall","table":"cart_info","type":"insert","ts":"2",'
    '"data":{"id":"1","user_id":"u1","sku_id":"s1","sku_num":"3"}}',
    # qty increase 2→5 → delta 3
    '{"database":"gmall","table":"cart_info","type":"update","ts":"3",'
    '"old":{"sku_num":"2"},"data":{"id":"2","user_id":"u1","sku_id":"s2","sku_num":"5"}}',
    # qty decrease → filtered out
    '{"database":"gmall","table":"cart_info","type":"update","ts":"4",'
    '"old":{"sku_num":"9"},"data":{"id":"3","user_id":"u2","sku_id":"s3","sku_num":"1"}}',
    # update of another column (old has no sku_num) → filtered out
    '{"database":"gmall","table":"cart_info","type":"update","ts":"5",'
    '"old":{"user_id":"u9"},"data":{"id":"4","user_id":"u3","sku_id":"s4","sku_num":"7"}}',
]


def test_maxwell_cart_add_delta(spark):
    env = maxwell.parse_envelope(literal.from_json_lines(spark, MAXWELL_LINES))
    out = maxwell.cart_add_delta(maxwell.etl_filter(env)).orderBy("id").collect()
    assert [(r.id, r.sku_num_delta, r.change_type) for r in out] == [
        ("1", 3, "insert"),
        ("2", 3, "update"),
    ]


DEBEZIUM_LINES = [
    # initial read
    '{"op":"r","ts_ms":"1","after":{"source_table":"base_trademark",'
    '"sink_table":"dim_base_trademark","sink_columns":"id,tm_name","sink_pk":"id"}}',
    # update changes sink_columns
    '{"op":"u","ts_ms":"2","after":{"source_table":"base_trademark",'
    '"sink_table":"dim_base_trademark","sink_columns":"id,tm_name,logo_url","sink_pk":"id"}}',
    # another table created then deleted
    '{"op":"c","ts_ms":"3","after":{"source_table":"base_province",'
    '"sink_table":"dim_base_province","sink_columns":"id,name","sink_pk":"id"}}',
    '{"op":"d","ts_ms":"4","before":{"source_table":"base_province",'
    '"sink_table":"dim_base_province","sink_columns":"id,name","sink_pk":"id"}}',
]


def test_debezium_latest_config(spark):
    env = debezium.parse_envelope(literal.from_json_lines(spark, DEBEZIUM_LINES))
    cfg = debezium.latest_config(env).collect()
    assert len(cfg) == 1
    assert cfg[0].source_table == "base_trademark"
    assert cfg[0].sink_columns == "id,tm_name,logo_url"


def test_lookup_dic_broadcast_join(spark):
    """J3 shape over the in-memory base_dic twin (rt/util/MySqlUtil.java)."""
    dic = jdbc.dic_from_rows(spark, [("2401", "user query"), ("1101", "alipay")])
    facts = spark.createDataFrame(
        [("o1", "2401"), ("o2", "1101"), ("o3", "2401")],
        "order_id string, source_type string",
    )
    out = facts.join(
        F.broadcast(dic), facts.source_type == dic.dic_code
    ).select("order_id", "dic_name")
    got = {(r.order_id, r.dic_name) for r in out.collect()}
    assert got == {("o1", "user query"), ("o2", "alipay"), ("o3", "user query")}


def test_kafka_latest_by_key(spark):
    """K2 upsert-topic read contract: last value per key wins."""
    from realtime_datawarehouse_spark.sources.kafka import latest_by_key

    df = spark.createDataFrame(
        [("k1", 1, "a"), ("k1", 3, "c"), ("k1", 2, "b"), ("k2", 1, "x")],
        "id string, version long, payload string",
    )
    got = {
        (r.id, r.payload)
        for r in latest_by_key(df, "id", "version").collect()
    }
    assert got == {("k1", "c"), ("k2", "x")}


def test_socket_source_live(spark):
    """S6 socket source (rt-test/TestIntervalJoin.java:23,46 analog): a live
    in-process TCP server feeds lines; the stream must deliver them all."""
    import socket
    import threading
    import time

    from realtime_datawarehouse_spark.sources.literal import socket_stream

    lines = [f"evt-{i}" for i in range(20)]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            time.sleep(2)  # keep open until the stream has polled

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = socket_stream(spark, "127.0.0.1", port)
    q = (
        stream.writeStream.format("memory")
        .queryName("t_socket")
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 20
        while time.time() < deadline:
            if spark.table("t_socket").count() >= len(lines):
                break
            q.awaitTermination(0.3)
        got = {r.value for r in spark.table("t_socket").collect()}
        assert got == set(lines)
    finally:
        q.stop()
        q.awaitTermination()
        srv.close()


def test_log_split_start_with_err_routes_to_both(spark):
    """ADVICE r01 #2 / DwdTrafficBaseLogSplit.java:164-176: the reference
    emits err whenever the field is present, then STILL emits start for a
    start event (err is removed, not fatal); page/display/action are the
    else-branch of start only."""
    lines = [
        json.dumps(
            {
                "common": {"mid": "201"},
                "err": {"error_code": "7"},
                "start": {"entry": "icon"},
                "ts": 1000,
            }
        ),
        json.dumps({"common": {"mid": "202"}, "start": {"entry": "n"}, "ts": 2000}),
        json.dumps(
            {"common": {"mid": "203"}, "page": {"page_id": "home"}, "ts": 3000}
        ),
    ]
    clean, _ = log_events.parse_with_dirty_routing(
        literal.from_json_lines(spark, lines)
    )
    b = log_events.split_log(clean)
    assert {r.common.mid for r in b["err"].collect()} == {"201"}
    assert {r.common.mid for r in b["start"].collect()} == {"201", "202"}
    # start events never reach the page family
    assert {r.common.mid for r in b["page"].collect()} == {"203"}


def test_kafka_builder_raises_clear_error_without_classpath(spark):
    """S1 driver-image constraint (documented in COVERAGE.md): this container
    carries no spark-sql-kafka package, so the builder must fail fast with
    an actionable message instead of an opaque ClassNotFoundException at
    stream start. When the image gains the classpath, this test flips to the
    live-broker path."""
    from realtime_datawarehouse_spark.sources import kafka

    if kafka._kafka_available(spark):
        pytest.skip("kafka classpath present — exercise the live path instead")
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka.read_stream(spark, "topic_db")


def test_config_from_rows_plans_no_python_rdd(spark):
    """The literal config is typed literals in the plan: reading or
    broadcasting it runs in the JVM, with no Python-worker RDD scan."""
    from realtime_datawarehouse_spark.plans.cdc_pipelines import (
        ROUTER_CONFIG_ROWS,
    )

    cfg = debezium.config_from_rows(spark, ROUTER_CONFIG_ROWS)
    plan = cfg._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan
    assert [r.asDict() for r in cfg.collect()] == ROUTER_CONFIG_ROWS


def test_config_from_rows_empty_and_null_fields(spark):
    """No rows give an empty frame of TABLE_PROCESS_SCHEMA; an absent or
    None sink_pk / sink_extend stays a typed string null."""
    empty = debezium.config_from_rows(spark, [])
    assert empty.schema == debezium.TABLE_PROCESS_SCHEMA
    assert empty.collect() == []

    cfg = debezium.config_from_rows(
        spark,
        [{"source_table": "part", "sink_table": "dim_part",
          "sink_columns": "p_partkey", "sink_pk": None}],
    )
    assert cfg.schema == debezium.TABLE_PROCESS_SCHEMA
    assert cfg.collect()[0].asDict() == {
        "source_table": "part", "sink_table": "dim_part",
        "sink_columns": "p_partkey", "sink_pk": None, "sink_extend": None,
    }


def test_cdc_snapshot_then_tail(spark, tmp_path):
    """S4: Flink-CDC StartupOptions.initial semantics — batch 0 replays the
    snapshot as op='r' envelopes, later files are the binlog tail; the
    latest_config collapse over the drained stream yields the consistent
    final table (update applied, delete removed, snapshot row kept)."""
    in_dir = str(tmp_path / "cdc")
    snap = debezium.config_from_rows(
        spark,
        [
            {"source_table": "part", "sink_table": "dim_part",
             "sink_columns": "p_partkey,p_brand", "sink_pk": "p_partkey",
             "sink_extend": None},
            {"source_table": "supplier", "sink_table": "dim_supplier",
             "sink_columns": "s_suppkey,s_name", "sink_pk": "s_suppkey",
             "sink_extend": None},
        ],
    )
    stream = debezium.prime_snapshot_then_tail(spark, in_dir, snap)

    # binlog tail: update part's sink_columns; delete supplier
    def env(before, after, op, ts):
        cols = ["source_table", "sink_table", "sink_columns", "sink_pk", "sink_extend"]
        mk = lambda d: None if d is None else tuple(d.get(c) for c in cols)  # noqa: E731
        return (mk(before), mk(after), op, str(ts))

    part_v2 = {"source_table": "part", "sink_table": "dim_part",
               "sink_columns": "p_partkey,p_brand,p_type", "sink_pk": "p_partkey"}
    sup_v1 = {"source_table": "supplier", "sink_table": "dim_supplier"}
    spark.createDataFrame(
        [env(None, part_v2, "u", 5), env(sup_v1, None, "d", 6)],
        debezium.DEBEZIUM_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(in_dir)

    from realtime_datawarehouse_spark.streaming import jobs

    q = jobs.run_to_memory(stream, "t_cdc", "append")
    q.awaitTermination()
    final = debezium.latest_config(spark.table("t_cdc"))
    got = {r.source_table: r.sink_columns for r in final.collect()}
    assert got == {"part": "p_partkey,p_brand,p_type"}


def test_file_format_round_trips(spark, tmp_path):
    """CSV / JSONL / ORC round-trip the same rows with explicit schemas
    (timestamps as formatted strings across the text formats), and an
    ORC partitioned write prunes on the partition filter."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.sources import files
    from realtime_datawarehouse_spark.tables import table
    from tests.conftest import SF_DIR

    ev = (
        table(spark, SF_DIR, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        )
    )
    want = {tuple(r) for r in ev.collect()}

    p = str(tmp_path / "csv")
    files.write_csv(ev, p)
    got = files.read_csv(spark, p, ev.schema)
    assert {tuple(r) for r in got.collect()} == want

    p = str(tmp_path / "jsonl")
    files.write_jsonl(ev, p)
    got = files.read_jsonl(spark, p, ev.schema)
    assert {tuple(r) for r in got.collect()} == want

    p = str(tmp_path / "orc")
    files.write_orc(ev, p, partition_by=["event_type"])
    got = files.read_orc(spark, p)
    assert {
        tuple(r) for r in got.select(*ev.columns).collect()
    } == want
    # partition pruning: the event_type filter must select directories,
    # not rows — the pruned scan touches strictly fewer files
    full_files = set(files.read_orc(spark, p).inputFiles())
    pruned = files.read_orc(spark, p).where(F.col("event_type") == "view")
    view_files = {f for f in full_files if "event_type=view" in f}
    assert view_files and view_files < full_files
    assert pruned.count() == sum(
        1 for r in want if r[2] == "view"
    )
