"""ADS layer as an actual HTTP service (SURVEY.md §2.12) — the reference's
gmall-publisher Spring controller (pub/controller/TradeStatController.java:
28-79) re-expressed as a stdlib ``http.server`` in front of Spark SQL.

Endpoints (same routes, params, and payload shapes as the reference):

    GET /gmv?date=yyyyMMdd      → {"status": 0, "data": <sum>}
    GET /province?date=yyyyMMdd → {"status": 0, "data":
        {"mapData": [{"name": ..., "value": ...}, ...], "valueName": "交易额"}}
    GET /similar?vec_id=N&k=K   → {"status": 0, "data":
        [{"neighbor_id": ..., "sim": ..., "rnk": ...}, ...]}
        (round 10 — ANN over the standing IVF index; missing vec_id →
        400 {"status": 1}; unknown vec_id → empty data)
    GET /quality?doc_id=N       → {"status": 0, "data":
        [{"doc_id": ..., "margin_milli": ..., "keep": ..., "model":
        ...}]}  (round 11 — the standing quality table as an endpoint;
        missing doc_id → 400; unknown doc_id → empty data)
    GET /encode?doc_id=N | ?text=... → {"status": 0, "data":
        [{"doc_id": ..., "vocab_ver": ..., "n_tokens": ...,
        "tokens": [...]}]}  (round 12 — tokenize under the standing BPE
        vocabulary's newest version; a vocab refresh flips the running
        endpoint atomically; neither/both params → 400; unknown
        doc_id → empty data)
    GET /lag                    → {"status": 0, "data": {"frontier": N,
        "tables": [{"table": ..., "version": ..., "applied_batch":
        ...}, ...]}}  (round 12 — the composed loop's cross-table
        staleness audit over the consistency manifest; pure metadata
        reads, no Spark jobs; requires loop_paths)

Like the reference, an absent/zero ``date`` defaults to today
(DateFormatUtil.now()). Unknown routes return 404; a missing, non-integer
or out-of-range ``vec_id``/``k``/``doc_id`` returns 400; any other handler
error is logged with its traceback and answered HTTP 500
{"status": 1, "msg": "internal error"} (the cause, often a Java stack
trace, stays out of the reply).

Scale note: the service holds ONE shared SparkSession; each request is a
pushed-down aggregate (date-pruned scan → broadcast dims → tiny group-by),
exactly how the reference pushes into ClickHouse. Serving-layer concurrency
comes from Spark's scheduler (FAIR pools in production), not from this
thread-per-request frontend.
"""

from __future__ import annotations

import json
import logging
import threading
from datetime import date as _date
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from realtime_datawarehouse_spark import serving

_log = logging.getLogger(__name__)


def _today() -> str:
    return _date.today().strftime("%Y%m%d")


class _BadRequest(ValueError):
    """A request parameter is missing or malformed: answered with 400."""


def _int_param(
    q: dict[str, list[str]], name: str, default: int | None = None
) -> int:
    if name not in q:
        if default is None:
            raise _BadRequest(f"{name} is required")
        return default
    try:
        value = int(q[name][0])
    except ValueError:
        raise _BadRequest(f"{name} must be an integer") from None
    if not -(2**63) <= value < 2**63:  # a Spark bigint literal
        raise _BadRequest(f"{name} is outside the 64-bit range")
    return value


def make_server(
    spark: SparkSession,
    sf_dir: str,
    host: str = "127.0.0.1",
    port: int = 0,
    ann_index_path: str | None = None,
    ann_centroids=None,
    quality_path: str | None = None,
    quality_weights=None,
    bpe_vocab_path: str | None = None,
    bpe_merges=None,
    loop_paths: dict[str, str] | None = None,
) -> ThreadingHTTPServer:
    """Build (but don't start) the HTTP server; port=0 picks a free port.

    ``ann_index_path``/``ann_centroids``: when set, GET /similar serves
    from the incrementally-maintained IVF inverted-list table (the
    standing index the production ingest loop writes and the refresh
    atomically re-codebooks); when unset, /similar recomputes over the
    embeddings table — same serve implementation either way
    (serving.similar).

    ``quality_path``/``quality_weights``: same split for GET /quality —
    standing quality table (scores always consistent with the
    currently-embedded model; a refresh flips the running endpoint
    atomically) vs recompute (serving.quality).

    ``bpe_vocab_path``/``bpe_merges``: same split for GET /encode —
    standing vocab table's newest version (a vocabulary refresh flips
    the running endpoint atomically — the third maintenance loop's
    serve surface) vs an injected merge table (serving.encode).

    ``loop_paths`` ({table_name: store_path}): enables GET /lag — the
    composed loop's cross-table staleness audit (round 12 consistency
    manifest): per-table head version + applied_batch plus the common
    frontier a consistent reader would pick. Pure metadata reads (no
    Spark jobs), safe to poll between batches."""

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload, ensure_ascii=False).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 — http.server API
            url = urlparse(self.path)
            q = parse_qs(url.query)
            date = q.get("date", ["0"])[0]
            if date in ("", "0"):  # reference: defaultValue=0 → now()
                date = _today()
            try:
                if url.path == "/gmv":
                    self._reply(200, serving.gmv(spark, sf_dir, date))
                elif url.path == "/province":
                    self._reply(200, serving.province_stats(spark, sf_dir, date))
                elif url.path == "/similar":
                    self._reply(
                        200,
                        serving.similar(
                            spark,
                            sf_dir,
                            _int_param(q, "vec_id"),
                            k=_int_param(q, "k", 5),
                            index_path=ann_index_path,
                            centroids=ann_centroids,
                        ),
                    )
                elif url.path == "/encode":
                    has_doc = "doc_id" in q
                    has_text = "text" in q
                    if has_doc == has_text:
                        self._reply(
                            400,
                            {
                                "status": 1,
                                "msg": "exactly one of doc_id / text "
                                "is required",
                            },
                        )
                        return
                    self._reply(
                        200,
                        serving.encode(
                            spark,
                            sf_dir,
                            doc_id=(
                                _int_param(q, "doc_id") if has_doc else None
                            ),
                            text=q["text"][0] if has_text else None,
                            vocab_path=bpe_vocab_path,
                            merges=bpe_merges,
                        ),
                    )
                elif url.path == "/lag":
                    if loop_paths is None:
                        self._reply(
                            400,
                            {"status": 1,
                             "msg": "no loop_paths configured"},
                        )
                        return
                    from realtime_datawarehouse_spark.streaming import (
                        pipelines,
                    )

                    # ONE metadata snapshot feeds both the frontier and
                    # the per-table list — two separate reads could
                    # disagree if a commit lands between them
                    # (code-review r12)
                    lag = pipelines.loop_lag_report(loop_paths)
                    applied = [a for (_, _, a) in lag if a is not None]
                    self._reply(
                        200,
                        {
                            "status": 0,
                            "data": {
                                "frontier": (
                                    min(applied) if applied else None
                                ),
                                "tables": [
                                    {
                                        "table": n,
                                        "version": v,
                                        "applied_batch": a,
                                    }
                                    for (n, v, a) in lag
                                ],
                            },
                        },
                    )
                elif url.path == "/quality":
                    self._reply(
                        200,
                        serving.quality(
                            spark,
                            sf_dir,
                            _int_param(q, "doc_id"),
                            quality_path=quality_path,
                            weights=quality_weights,
                        ),
                    )
                else:
                    self._reply(404, {"status": 1, "msg": "no such route"})
            except _BadRequest as e:
                self._reply(400, {"status": 1, "msg": str(e)})
            except Exception:  # keep the service up; the cause goes to the log
                _log.exception("GET %s failed", self.path)
                self._reply(500, {"status": 1, "msg": "internal error"})

        def log_message(self, fmt: str, *args) -> None:
            # the access log, at INFO: silent under the default WARNING level
            _log.info("%s " + fmt, self.address_string(), *args)

    return ThreadingHTTPServer((host, port), Handler)


def start_background(server: ThreadingHTTPServer) -> threading.Thread:
    """Serve on a daemon thread; returns the thread. Stop with
    ``server.shutdown()``."""
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
