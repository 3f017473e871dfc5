"""The ADS HTTP service end-to-end: live server, reference routes/payloads
(pub/controller/TradeStatController.java:28-79)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from pyspark.sql import functions as F

from realtime_datawarehouse_spark import serving, serving_http
from realtime_datawarehouse_spark.tables import table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def ads_server(spark):
    server = serving_http.make_server(spark, SF_DIR)
    serving_http.start_background(server)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return r.status, json.loads(r.read().decode("utf-8"))


def test_http_gmv_matches_direct_call(spark, ads_server):
    date = (
        table(spark, SF_DIR, "orders")
        .select(F.date_format("o_orderdate", "yyyyMMdd").alias("d"))
        .groupBy("d").count().orderBy(F.desc("count")).first().d
    )
    status, payload = _get(f"{ads_server}/gmv?date={date}")
    assert status == 200
    direct = serving.gmv(spark, SF_DIR, date)
    assert payload == {"status": 0, "data": direct["data"]}
    assert payload["data"] > 0


def test_http_access_log_goes_to_module_logger(ads_server, caplog):
    """Each request line and its status go to the module logger at INFO."""
    import logging

    with caplog.at_level(logging.INFO, logger=serving_http.__name__):
        status, _ = _get(f"{ads_server}/gmv?date=20240101")
    assert status == 200
    lines = [
        r.getMessage()
        for r in caplog.records
        if r.name == serving_http.__name__ and r.levelno == logging.INFO
    ]
    assert any('"GET /gmv?date=20240101 HTTP/1.1" 200' in m for m in lines), lines


def test_http_province_payload_shape(spark, ads_server):
    date = (
        table(spark, SF_DIR, "orders")
        .select(F.date_format("o_orderdate", "yyyyMMdd").alias("d"))
        .first().d
    )
    status, payload = _get(f"{ads_server}/province?date={date}")
    assert status == 200
    assert payload["status"] == 0
    assert payload["data"]["valueName"] == serving.VALUE_NAME
    assert all(set(e) == {"name", "value"} for e in payload["data"]["mapData"])


def test_http_unknown_route_404(ads_server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{ads_server}/nope")
    assert ei.value.code == 404


def test_http_similar_fixture_mode_matches_registered_query(
    spark, ads_server
):
    """GET /similar without a standing index recomputes through the
    shared IVF serve path — payload must equal the registered
    ann_ivf_topk rows for that query id, in rank order."""
    from realtime_datawarehouse_spark.plans.registry import get_queries

    status, payload = _get(f"{ads_server}/similar?vec_id=3&k=5")
    assert status == 200 and payload["status"] == 0
    want = sorted(
        (
            (r.rnk, r.neighbor_id, r.sim)
            for r in get_queries()["ann_ivf_topk"](spark, SF_DIR).collect()
            if r.query_id == 3
        ),
    )
    got = [(e["rnk"], e["neighbor_id"], e["sim"]) for e in payload["data"]]
    assert got == want and len(got) == 5
    # unknown vec_id → empty data, status 0 (the /gmv empty-date contract)
    status, payload = _get(f"{ads_server}/similar?vec_id=999999999")
    assert status == 200 and payload == {"status": 0, "data": []}


def test_http_similar_missing_vec_id_400(ads_server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{ads_server}/similar")
    assert ei.value.code == 400


@pytest.mark.parametrize(
    "query, msg",
    [
        ("similar?vec_id=abc", "vec_id must be an integer"),
        ("similar?vec_id=3&k=five", "k must be an integer"),
        ("quality?doc_id=1.5", "doc_id must be an integer"),
        ("encode?doc_id=x", "doc_id must be an integer"),
        ("similar?vec_id=" + "9" * 20, "vec_id is outside the 64-bit range"),
    ],
)
def test_http_malformed_integer_param_400(ads_server, query, msg):
    """A malformed integer parameter is the caller's error: 400 naming
    the parameter, not a 500 echoing the parser's or the JVM's exception."""
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{ads_server}/{query}")
    assert ei.value.code == 400
    assert json.loads(ei.value.read().decode("utf-8")) == {
        "status": 1,
        "msg": msg,
    }


def test_http_internal_error_is_logged_not_echoed(
    ads_server, monkeypatch, caplog
):
    """A handler failure answers a generic 500; its cause (here a
    Py4J-style Java stack trace) goes to the log, not to the client."""
    import logging
    import urllib.error

    trace = (
        "An error occurred while calling o696.equalTo. Trace:\n"
        "java.lang.NumberFormatException: For input string\n"
        "\tat java.base/java.lang.Long.parseLong(Long.java:711)"
    )

    def boom(*args, **kwargs):
        raise RuntimeError(trace)

    monkeypatch.setattr(serving, "gmv", boom)
    with caplog.at_level(logging.ERROR, logger=serving_http.__name__):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{ads_server}/gmv?date=20240101")
    assert ei.value.code == 500
    body = ei.value.read().decode("utf-8")
    assert json.loads(body) == {"status": 1, "msg": "internal error"}
    assert "java" not in body and "Trace" not in body
    [rec] = [r for r in caplog.records if r.name == serving_http.__name__]
    assert rec.levelno == logging.ERROR and "/gmv?date=20240101" in rec.getMessage()
    assert rec.exc_info and "java.lang.NumberFormatException" in str(rec.exc_info[1])
    assert "Traceback" in caplog.text


def test_http_similar_serves_from_standing_index(spark, tmp_path):
    """The deployment mode: a server built with ann_index_path serves
    /similar from the incrementally-maintained inverted-list table —
    including AFTER a codebook refresh (the embedded codebook travels
    with the index version, so the live endpoint flips atomically with
    the refresh commit)."""
    from realtime_datawarehouse_spark.operators import similarity
    from realtime_datawarehouse_spark.streaming import pipelines
    from realtime_datawarehouse_spark.tables import table as _table

    emb = _table(spark, SF_DIR, "embeddings")
    frozen = similarity._ivf_centroids(
        emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    )
    index_path = str(tmp_path / "ivf")
    for i in range(2):
        pipelines.ingest_ivf_step(
            spark,
            emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == i),
            frozen,
            index_path,
            batch_id=i,
        )
    server = serving_http.make_server(
        spark, SF_DIR, ann_index_path=index_path, ann_centroids=frozen
    )
    serving_http.start_background(server)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        _, before = _get(f"{base}/similar?vec_id=3&k=5")
        want = {
            (r.rnk, r.neighbor_id, r.sim)
            for r in similarity.ivf_topk(
                emb,
                emb.where(F.col("vec_id") == 3).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec"),
                ),
                5,
                centroids=frozen,
            ).collect()
        }
        got = {
            (e["rnk"], e["neighbor_id"], e["sim"]) for e in before["data"]
        }
        assert got == want and len(got) == 5
        # refresh to the full-corpus codebook: the SAME live endpoint now
        # serves through the embedded refreshed codebook
        pipelines.refresh_ivf_index(
            spark,
            index_path,
            refresh_id=2,
            new_centroids=similarity._ivf_centroids(emb),
        )
        _, after = _get(f"{base}/similar?vec_id=3&k=5")
        want_after = {
            (r.rnk, r.neighbor_id, r.sim)
            for r in similarity.ivf_topk(
                emb,
                emb.where(F.col("vec_id") == 3).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec"),
                ),
                5,
            ).collect()
        }
        got_after = {
            (e["rnk"], e["neighbor_id"], e["sim"]) for e in after["data"]
        }
        assert got_after == want_after
    finally:
        server.shutdown()


def test_http_quality_fixture_mode_and_contracts(spark, ads_server):
    """GET /quality in recompute mode matches the registered classifier
    row for the doc; missing doc_id → 400; unknown doc_id → empty data
    with status 0 (the /similar contracts)."""
    from realtime_datawarehouse_spark.operators import textops

    docs = table(spark, SF_DIR, "documents")
    doc_id = docs.select(F.min("doc_id")).collect()[0][0]
    want = (
        textops.quality_classifier(docs.where(F.col("doc_id") == doc_id))
        .select("doc_id", "margin_milli", "keep")
        .collect()[0]
    )
    status, got = _get(f"{ads_server}/quality?doc_id={doc_id}")
    assert status == 200 and got["status"] == 0
    assert got["data"] == [
        {
            "doc_id": int(want.doc_id),
            "margin_milli": int(want.margin_milli),
            "keep": int(want.keep),
            "model": "recompute",
        }
    ]
    status, empty = _get(f"{ads_server}/quality?doc_id=999999999")
    assert status == 200 and empty == {"status": 0, "data": []}
    try:
        urllib.request.urlopen(f"{ads_server}/quality", timeout=60)
        raise AssertionError("missing doc_id must 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_http_quality_serves_standing_table_and_flips_on_refresh(
    spark, tmp_path
):
    """The deployment mode: a server built with quality_path serves
    /quality from the standing quality table the ingest loop maintains
    — and a model refresh (retrain + rescore + snapshot in ONE commit)
    flips the SAME running endpoint atomically to the new model's
    scores, with the payload's model field reporting embedded serving
    (the /similar-after-codebook-refresh symmetry)."""
    from realtime_datawarehouse_spark.streaming import pipelines

    def w(v):
        return spark.range(512).select(
            F.col("id").alias("bucket"),
            F.lit(v).cast("long").alias("w_milli"),
        )

    qpath = str(tmp_path / "quality")
    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x y z")], "doc_id long, text string"
    )
    pipelines.ingest_quality_step(spark, docs, qpath, 0, weights=w(500))
    server = serving_http.make_server(spark, SF_DIR, quality_path=qpath)
    serving_http.start_background(server)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        _, before = _get(f"{base}/quality?doc_id=2")
        # pre-install: scores from the frozen day-0 arg weights
        assert before["data"] == [
            {"doc_id": 2, "margin_milli": 1500, "keep": 1,
             "model": "frozen"}
        ]
        # refresh to a negative-weight model: the SAME live endpoint now
        # serves the rescored row under the embedded model
        pipelines.refresh_quality_model(
            spark, qpath, docs, refresh_id=1, new_weights=w(-500)
        )
        _, after = _get(f"{base}/quality?doc_id=2")
        assert after["data"] == [
            {"doc_id": 2, "margin_milli": -1500, "keep": 0,
             "model": "embedded"}
        ]
    finally:
        server.shutdown()


def test_encode_null_text_doc_returns_empty_not_500(spark, tmp_path):
    """Code-review r12: the distributed encode kernel has an explicit
    null-text branch, so NULL text is in the data model — serving.encode
    on a doc whose text is NULL must return the graceful empty payload
    (the unknown-doc contract), not crash into a 500."""
    import os

    sf = str(tmp_path / "sf_null")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        [(1, None), (2, "ab ab")], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    payload = serving.encode(
        spark, sf, doc_id=1, merges=[("a", "b")]
    )
    assert payload == {"status": 0, "data": []}
    ok = serving.encode(spark, sf, doc_id=2, merges=[("a", "b")])
    assert ok["data"][0]["tokens"] == ["ab", "ab"]


def test_http_lag_reports_torn_frontier_and_heals(spark, tmp_path):
    """Round 12: GET /lag serves the composed loop's cross-table
    staleness audit from the consistency manifest — a crash between
    standing-table writes shows up as a torn frontier on the LIVE
    endpoint, and the healed replay advances it (pure metadata reads;
    the consistent-snapshot companion of the /quality//encode serve
    surface)."""
    from realtime_datawarehouse_spark.streaming import pipelines

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    root = str(tmp_path / "loop")
    p = {n: f"{root}/{n}" for n in ("quality", "sigs", "comps")}

    def step(i, b):
        pipelines.production_ingest_step(
            spark, b, None, p["sigs"], f"{root}/flags", p["comps"],
            f"{root}/ivf", batch_id=i, quality_path=p["quality"],
        )

    step(0, docs([(1, "a b c"), (2, "d e f")]))
    # batch 1 dies after its first table write
    pipelines.ingest_quality_step(
        spark, docs([(3, "g h i")]), p["quality"], 1,
        props={"applied_batch": 1},
    )
    server = serving_http.make_server(spark, SF_DIR, loop_paths=p)
    serving_http.start_background(server)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        _, torn = _get(f"{base}/lag")
        assert torn["status"] == 0
        assert torn["data"]["frontier"] == 0
        by_t = {
            e["table"]: e["applied_batch"]
            for e in torn["data"]["tables"]
        }
        assert by_t == {"quality": 1, "sigs": 0, "comps": 0}
        # heal: the replayed full step advances the SAME live endpoint
        step(1, docs([(3, "g h i")]))
        _, healed = _get(f"{base}/lag")
        assert healed["data"]["frontier"] == 1
        assert all(
            e["applied_batch"] == 1 for e in healed["data"]["tables"]
        )
    finally:
        server.shutdown()
    # a server without loop_paths 400s the route
    plain = serving_http.make_server(spark, SF_DIR)
    serving_http.start_background(plain)
    h2, p2 = plain.server_address
    try:
        import urllib.error

        try:
            urllib.request.urlopen(f"http://{h2}:{p2}/lag", timeout=60)
            raise AssertionError("/lag without loop_paths must 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        plain.shutdown()


def test_http_encode_serves_standing_vocab_and_flips_on_refresh(
    spark, tmp_path
):
    """Round 12: GET /encode tokenizes under the standing vocab table's
    NEWEST version, and a vocabulary install (the measure→act refresh's
    CAS append) flips the SAME running endpoint atomically to the new
    merge table — the third maintenance loop's serve surface, the
    /quality-flip and /similar-after-codebook-refresh symmetry. Also
    pins the param contract: text mode, doc_id mode (unknown → empty),
    neither/both → 400."""
    import urllib.error

    from realtime_datawarehouse_spark.streaming import pipelines

    vpath = str(tmp_path / "vocab")
    pipelines.install_bpe_vocab(spark, vpath, [("a", "b")], 0, 900)
    server = serving_http.make_server(spark, SF_DIR, bpe_vocab_path=vpath)
    serving_http.start_background(server)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        _, before = _get(f"{base}/encode?text=ababab%20cd")
        assert before["data"] == [
            {
                "doc_id": None,
                "vocab_ver": 0,
                "n_tokens": 5,
                "tokens": ["ab", "ab", "ab", "c", "d"],
            }
        ]
        # a refresh installs version 1 with an extra merge: the SAME
        # live endpoint now tokenizes under it (memoized per committed
        # version — the flip is the head moving)
        pipelines.install_bpe_vocab(
            spark, vpath, [("a", "b"), ("ab", "ab")], 1, 700
        )
        _, after = _get(f"{base}/encode?text=ababab%20cd")
        assert after["data"] == [
            {
                "doc_id": None,
                "vocab_ver": 1,
                "n_tokens": 4,
                "tokens": ["abab", "ab", "c", "d"],
            }
        ]
        # doc_id mode: fetches the document's text; serves real tokens
        _, bydoc = _get(f"{base}/encode?doc_id=1")
        assert bydoc["status"] == 0 and len(bydoc["data"]) == 1
        row = bydoc["data"][0]
        assert row["doc_id"] == 1 and row["vocab_ver"] == 1
        assert row["n_tokens"] == len(row["tokens"]) > 0
        # unknown doc_id → empty data, status 0
        _, empty = _get(f"{base}/encode?doc_id=999999999")
        assert empty == {"status": 0, "data": []}
        # neither or both params → 400
        for bad in ("", "?doc_id=1&text=x"):
            try:
                urllib.request.urlopen(f"{base}/encode{bad}", timeout=60)
                raise AssertionError("bad /encode params must 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        server.shutdown()
