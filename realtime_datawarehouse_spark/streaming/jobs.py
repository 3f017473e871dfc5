"""Streaming operator forms.

Watermark policy mirrors the reference (SURVEY.md §2.9): bounded
out-of-orderness of 3 s (W2/W3) as the default, 0 s (W1 monotonic) where the
source guarantees order; no allowedLateness anywhere (W6) — rows later than
the watermark are dropped, exactly as Flink's default.

State TTL (W7): the reference's 1-day ValueState TTL for daily-distinct
operators maps to event-time state scoped by watermark (dropDuplicates
includes the day in the key; old days' state is reclaimed once the watermark
passes them).

Scale notes: all operators are keyed by (user/day/window) — state is
per-key-group in the state store, partitioned by the shuffle hash; nothing
accumulates on the driver. applyInPandasWithState kernels are Arrow-batched
and defined as closures (pickled by value — required for foreign-cwd
drivers).
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DEFAULT_WATERMARK = "3 seconds"  # W2/W3 bounded out-of-orderness

# Day-scoped dedup state (ST2/ST5): the reference's 1-day ValueState TTL.
# Must be ≥ 24h so any two same-day events (≤ 24h apart) are inside the
# dedup guarantee of dropDuplicatesWithinWatermark; the 2h slack absorbs
# bounded out-of-orderness. State is evicted once the watermark passes
# event_time + this delay — the leak-free rendering of the TTL.
DAY_TTL_WATERMARK = "26 hours"


def parquet_stream(spark, path: str, schema: StructType) -> DataFrame:
    """File-based stream, one micro-batch per file — the test-rig stand-in
    for a raw Kafka topic, where each input file is one delivery; swap
    sources/kafka.read_stream in production wiring. Not for storage
    boundaries between queries: those are written and read by
    streaming/pipelines.py ``_boundary``."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def tumble_count_by_key(
    ev: DataFrame,
    ts_col: str = "ts",
    key: str = "event_type",
    width: str = "10 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """A1 streaming form: watermarked event-time tumble count by key
    (DwsTrafficSourceKeywordPageViewWindow.java:61-69). Append output —
    windows emit once closed by the watermark."""
    return (
        ev.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), width), F.col(key))
        .agg(F.count("*").alias("keyword_count"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            key,
            "keyword_count",
        )
    )


def first_per_user_day(
    ev: DataFrame, ts_col: str = "ts", key: str = "user_id",
    watermark: str = DAY_TTL_WATERMARK,
) -> DataFrame:
    """ST2/ST5 streaming form: emit each key's first event per day.

    ``dropDuplicatesWithinWatermark`` on (key, day): any two same-day events
    are ≤ 24h apart, so a ≥ 24h watermark delay makes the dedup exact, and —
    unlike plain ``dropDuplicates`` on a derived date column, whose state is
    NEVER evicted because the subset lacks the event-time column — state for
    a (key, day) pair is reclaimed once the watermark passes its event time
    + delay. This is the real rendering of the reference's 1-day state TTL
    (DwdTrafficUniqueVisitorDetail.java:59-64): bounded state at any scale.
    NOTE: within a micro-batch, "first" is arrival order — byte-identical to
    the reference's processing semantics, but only equal to the batch
    oracle's min-timestamp row when the source is time-ordered (Kafka per
    key, or file batches in order), which both the fixture and topic_db are
    (pinned by test_first_per_user_day_disorder_contract).
    """
    return ev.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [key, "visit_date"]
    )


def with_visit_date(ev: DataFrame, ts_col: str = "ts") -> DataFrame:
    return ev.withColumn("visit_date", F.to_date(F.col(ts_col)))


def keep_latest_kernel_factory(ts_field: str, payload_fields: list[str]):
    """ST7 streaming form: per-key keep-newest with state
    (DwsTradeSkuOrderWindow.java:113-155 — buffer one row, replace when a
    newer version arrives, flush on timer). Here the flush is per
    micro-batch: each batch emits the current newest row per key; downstream
    PK-upsert (K2) collapses resends, exactly like the reference's
    upsert-Kafka sink.

    Returns (kernel, output_schema, state_schema) for applyInPandasWithState.
    """
    out_schema = StructType(
        [StructField("key", StringType()), StructField(ts_field, TimestampType())]
        + [StructField(f, StringType()) for f in payload_fields]
    )
    state_schema = StructType(
        [StructField("ts_micros", LongType())]
        + [StructField(f, StringType()) for f in payload_fields]
    )

    def kernel(key: Any, pdfs, state: GroupState):
        best_ts = None
        best_payload = None
        if state.exists:
            row = state.get
            best_ts, best_payload = row[0], list(row[1:])
        for pdf in pdfs:
            if not len(pdf):
                continue
            # vectorized per-batch reduction: only the max-ts row matters
            # (ties broken like the sequential >= scan: last occurrence wins)
            ts_micros = pdf[ts_field].astype("int64") // 1000  # ns → micros
            t = int(ts_micros.max())
            best = pdf.loc[ts_micros[ts_micros == t].index[-1]]
            if best_ts is None or t >= best_ts:
                best_ts = t
                best_payload = [str(best[f]) for f in payload_fields]
        state.update((best_ts, *best_payload))
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                ts_field: [pd.Timestamp(best_ts * 1000)],
                **{f: [v] for f, v in zip(payload_fields, best_payload)},
            }
        )

    return kernel, out_schema, state_schema


def keep_latest_stream(
    ev: DataFrame, key: str, ts_col: str, payload_fields: list[str]
) -> DataFrame:
    kernel, out_schema, state_schema = keep_latest_kernel_factory(
        ts_col, payload_fields
    )
    return ev.groupBy(key).applyInPandasWithState(
        kernel,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def bounce_kernel_factory(gap_ms: int):
    """ST8 streaming form: CEP bounce/jump detection with timeout branch
    (DwdTrafficUserJumpDetail.java:86-129).

    Pattern per user: a session entry (gap from previous event > gap_ms) is a
    bounce when the NEXT event is another entry (gap > gap_ms again) or never
    arrives — the reference's match-branch ∪ timeout-side-output union, here
    a single keyed state machine:

    - state = (pending entry, last event ts);
    - an event beyond the gap is an entry: it resolves a pending entry as a
      BOUNCE and becomes the new pending;
    - an event within the gap resolves the pending entry as NOT a bounce;
    - an event-time timeout (watermark passes pending + gap) emits the
      pending entry as a bounce — no follow-up can be on time anymore.

    Returns (kernel, out_schema, state_schema) for applyInPandasWithState.
    Batch-mode equivalent: plans/traffic.py st8_bounce_detection (lead/lag).
    """
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("entry_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("pending_id", LongType()),   # -1 = none
            StructField("pending_ms", LongType()),
            StructField("last_ms", LongType()),
        ]
    )

    def kernel(key: Any, pdfs, state: GroupState):
        import pandas as _pd

        def emit(ids, tss):
            return _pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(ids),
                    "event_id": ids,
                    "entry_ts": [_pd.Timestamp(t * 1_000_000) for t in tss],
                }
            )

        if state.hasTimedOut:
            pid, pts, _last = state.get
            state.remove()
            if pid >= 0:
                yield emit([pid], [pts])
            return

        pid, pts, last = (state.get if state.exists else (-1, -1, -1))
        rows = _pd.concat(list(pdfs))
        rows = rows.sort_values(["ts", "event_id"])
        out_ids: list[int] = []
        out_ts: list[int] = []
        for r in rows.itertuples():
            ts_ms = int(r.ts.value // 1_000_000)
            if last < 0 or ts_ms - last > gap_ms:
                if pid >= 0:  # pending entry followed by another entry → bounce
                    out_ids.append(pid)
                    out_ts.append(pts)
                pid, pts = int(r.event_id), ts_ms
            elif pid >= 0:  # on-time follow-up → pending is not a bounce
                pid, pts = -1, -1
            last = ts_ms
        state.update((pid, pts, last))
        if pid >= 0:
            # fire once no on-time follow-up can exist (event-time timer)
            state.setTimeoutTimestamp(pts + gap_ms + 1)
        if out_ids:
            yield emit(out_ids, out_ts)

    return kernel, out_schema, state_schema


def bounce_detect_stream(
    ev: DataFrame,
    gap_ms: int,
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    kernel, out_schema, state_schema = bounce_kernel_factory(gap_ms)
    return (
        ev.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            kernel,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def visit_state_kernel_factory():
    """ST1 + ST4 streaming form: per-user visit-date state machine.

    One keyed state (first-seen day, last-seen day — two ints) drives both
    operators' flags per event, in event order:

    - ``is_new`` (ST1, DwdTrafficBaseLogSplit.java:102-145): 1 only while
      the event's day equals the user's first-seen day — a claimed
      new-visitor flag on a later day is repaired to 0;
    - ``uu`` (ST4, DwsUserUserLoginWindow.java:84-129): 1 on the first
      event of a user-day;
    - ``back`` (ST4): 1 when that first-of-day event arrives ≥ 8 days after
      the previous active day (the 7-day-returning rule).

    State is 16 bytes/user; the reference's 1-day/TTL reclamation maps to a
    GroupState timeout in deployments where user-space is unbounded (not
    needed for correctness — is_new requires the first-seen day forever).
    Returns (kernel, out_schema, state_schema).
    """
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("dt", StringType()),
            StructField("is_new", LongType()),
            StructField("uu", LongType()),
            StructField("back", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("first_day", LongType()),
            StructField("last_day", LongType()),
        ]
    )

    def kernel(key: Any, pdfs, state: GroupState):
        import pandas as _pd

        first_day, last_day = (state.get if state.exists else (-1, -1))
        rows = _pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        days = (rows["ts"].astype("int64") // 86_400_000_000_000).to_numpy()
        out = {
            "user_id": rows["user_id"].to_numpy(),
            "event_id": rows["event_id"].to_numpy(),
            "dt": rows["ts"].dt.strftime("%Y-%m-%d").to_numpy(),
            "is_new": [],
            "uu": [],
            "back": [],
        }
        for d in days:
            d = int(d)
            if first_day < 0:
                first_day = d
            out["is_new"].append(1 if d == first_day else 0)
            if d != last_day:
                out["uu"].append(1)
                out["back"].append(
                    1 if last_day >= 0 and d - last_day >= 8 else 0
                )
            else:
                out["uu"].append(0)
                out["back"].append(0)
            last_day = d
        state.update((first_day, last_day))
        yield _pd.DataFrame(out)

    return kernel, out_schema, state_schema


def visit_state_stream(ev: DataFrame, key: str = "user_id") -> DataFrame:
    kernel, out_schema, state_schema = visit_state_kernel_factory()
    return ev.groupBy(key).applyInPandasWithState(
        kernel,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    on,
    band: str = "90 days",
    watermark: str = DEFAULT_WATERMARK,
    how: str = "inner",
    watermark_left: bool = True,
    watermark_right: bool = True,
) -> DataFrame:
    """J1/J2 streaming form: watermarked stream-stream equi-join
    (DwdTradeOrderPreProcess.java:125-131).

    Both sides carry watermarks and the join adds a time-band constraint —
    Spark's requirement for bounding join state, playing the role of the
    reference's 15 min idle-state retention (SURVEY §2.9 W7): a row is
    dropped from state once the other side's watermark passes its band.
    For left-outer, null-extended rows emit only when the watermark proves
    no match can arrive (hold-until-watermark instead of Flink's
    emit-then-retract churn — SURVEY §7.4 #1; downstream PK-upsert makes
    the two equivalent).

    When chaining (the output of one stream-stream join feeding another —
    multi-stateful pipelines, Spark 4's allowMultiple), pass
    ``watermark_left=False`` for the already-watermarked side: redefining a
    watermark on a derived stream is disallowed.
    """
    lw = left.withWatermark(left_ts, watermark) if watermark_left else left
    rw = right.withWatermark(right_ts, watermark) if watermark_right else right
    time_band = (
        (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {band}"))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {band}"))
    )
    return lw.join(rw, on & time_band, how)


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drain a stream with availableNow into an in-memory table; returns the
    started query (caller awaits termination and reads spark.table(name))."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def hop_multi_metric(
    ev: DataFrame,
    ts_col: str = "ts",
    key: str = "event_type",
    width: str = "600 seconds",
    slide: str = "300 seconds",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming form of ``ext_hop_window``: hopping event-time window,
    count + order-free quantized sum. Each row lands in width/slide
    windows; state is one aggregate row per (window, key), evicted when
    the watermark passes window end — identical expressions to the batch
    plan, so parity is exact for closed windows."""
    from realtime_datawarehouse_spark.functions.compare import dsum

    return (
        ev.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), width, slide), F.col(key))
        .agg(F.count("*").alias("event_ct"), dsum(F.col("value")).alias("value_sum"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            key,
            "event_ct",
            "value_sum",
        )
    )


def session_window_stream(
    ev: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap: str = "6 hours",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming twin of ``olap_sessionize`` via the BUILTIN
    ``session_window`` (dynamic-gap event-time sessions): Spark merges
    overlapping per-key windows in the state store and emits a session
    once the watermark passes its close (last event + gap). The batch
    plan's lag+cumsum construction uses the same >= gap half-open rule
    (equivalence pinned by test_sessionize_matches_builtin_session_window),
    so closed sessions agree exactly.

    State per key is the set of OPEN sessions (bounded by gap), not the
    event history; duration is computed from max(ts) rather than
    ``session_window.end`` because the builtin window end includes the
    trailing gap."""
    from realtime_datawarehouse_spark.functions.compare import dsum

    return (
        ev.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key))
        .agg(
            F.count("*").alias("n_events"),
            F.max(ts_col).alias("last_ts"),
            dsum(F.col("value")).alias("session_value"),
        )
        .select(
            key,
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            (
                (
                    F.unix_micros(F.col("last_ts"))
                    - F.unix_micros(F.col("session_window.start"))
                )
                / F.lit(1_000_000)
            )
            .cast("bigint")
            .alias("duration_s"),
            "n_events",
            "session_value",
        )
    )


def approx_uv_daily(
    ev: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming HLL++ daily UV (the sketch form of ST2): per-day state is
    one constant-size HLL register set, not a user-id set — the state-store
    footprint no longer grows with cardinality. HLL merge is register-max,
    so micro-batch arrival order cannot change the result: streaming output
    equals the batch ``sk_hll_daily_uv`` exactly, not just approximately."""
    return (
        ev.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 day"))
        .agg(F.approx_count_distinct(key, 0.02).alias("approx_distinct"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("dt"),
            "approx_distinct",
        )
    )


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, key_stream: str, key_dim: str
) -> DataFrame:
    """J3's streaming form — lookup/temporal join as a stream-STATIC
    broadcast join (rt/app/dwd/db/DwdTradeOrderPreProcess.java lookup joins
    a bounded dic table): the dim is a bounded DataFrame, broadcast to every
    micro-batch; no state, no watermark, the stream side never shuffles.
    The dim snapshot is re-resolvable per batch when backed by a refreshable
    source (the table_store reader), giving the hot-reload behavior the
    config router implements for dims."""
    return stream.join(
        F.broadcast(dim), F.col(key_stream) == F.col(key_dim), "left"
    )


def dedup_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming exact corpus dedup: keep the FIRST-arriving document per
    content hash — the continuous-ingestion form of
    ``operators/dedup.py::exact_dedup`` (a training-data pipeline that
    tails a crawl feed dedups this way rather than re-batching).

    State = one (hash) row per distinct document seen; with no event-time
    column on the corpus this is unbounded by design (the batch operator
    is the compaction). When the feed carries an ingest timestamp, swap to
    ``withWatermark + dropDuplicatesWithinWatermark([content_hash])`` for
    TTL-bounded state — same output within the retention horizon.
    Within a micro-batch "first" is arrival order (same contract as
    first_per_user_day; pinned to min-doc_id by ordered sources)."""
    return docs.withColumn(
        "content_hash", F.md5(F.col(text_col))
    ).dropDuplicates(["content_hash"])


def funnel_state_kernel_factory():
    """Streaming funnel (batch form: plans/analytic.py
    olap_funnel_conversion): per-user (t1, t2, t3) stage-time state
    advanced in event order — view sets t1, a click at/after t1 sets t2,
    a purchase at/after t2 sets t3; each stage latches its FIRST
    qualifying time (chain-of-mins semantics on an ordered stream).

    Emits one row per input event with the user's stage AFTER the event
    (update-style progress feed; the final per-user row of a drained
    stream is the batch answer). State = three int64 epoch-micros per
    user; unbounded user-space deployments add a GroupState timeout.
    Returns (kernel, out_schema, state_schema).
    """
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("stage", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("t1", LongType()),
            StructField("t2", LongType()),
            StructField("t3", LongType()),
        ]
    )

    def kernel(key: Any, pdfs, state: GroupState):
        import pandas as _pd

        t1, t2, t3 = state.get if state.exists else (-1, -1, -1)
        rows = _pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts = rows["ts"].astype("int64").to_numpy()  # epoch micros (ns//1k ok)
        types = rows["event_type"].to_numpy()
        stages = []
        for t, typ in zip(ts, types):
            t = int(t)
            if typ == "view" and t1 < 0:
                t1 = t
            elif typ == "click" and t1 >= 0 and t2 < 0 and t >= t1:
                t2 = t
            elif typ == "purchase" and t2 >= 0 and t3 < 0 and t >= t2:
                t3 = t
            stages.append(3 if t3 >= 0 else 2 if t2 >= 0 else 1 if t1 >= 0 else 0)
        state.update((t1, t2, t3))
        yield _pd.DataFrame(
            {
                "user_id": rows["user_id"].to_numpy(),
                "event_id": rows["event_id"].to_numpy(),
                "stage": _pd.Series(stages, dtype="int64"),
            }
        )

    return kernel, out_schema, state_schema


def funnel_stream(ev: DataFrame, key: str = "user_id") -> DataFrame:
    kernel, out_schema, state_schema = funnel_state_kernel_factory()
    return ev.groupBy(key).applyInPandasWithState(
        kernel,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def semantic_dedup_kernel_factory(threshold: float, dim: int):
    """Streaming SemDeDup kernel: per LSH bucket, flag an arriving vector
    as a duplicate iff it is cosine-similar (portably-rounded, the batch
    rule) to ANY earlier-arriving vector of the same bucket; every arrival
    joins the bucket's state regardless of its own dup flag (batch parity:
    a<b pairs are scored whether or not a is itself a dup).

    State per bucket = the member vectors seen so far (ids + flattened
    doubles) — bounded by the bucket population, which the plane count
    holds at ~target at any corpus size (operators/similarity.py
    semdedup_lsh notes). Returns (kernel, out_schema, state_schema)."""
    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("cluster_id", LongType()),
            StructField("is_dup", LongType()),
        ]
    )
    from pyspark.sql.types import ArrayType, DoubleType

    state_schema = StructType(
        [
            StructField("ids", ArrayType(LongType())),
            StructField("flat", ArrayType(DoubleType())),
        ]
    )

    def kernel(key: Any, pdfs, state: GroupState):
        import numpy as _np
        import pandas as _pd

        ids, flat = state.get if state.exists else ([], [])
        ids = list(ids or [])
        seen = (
            _np.asarray(flat, dtype=_np.float64).reshape(-1, dim)
            if flat
            else _np.zeros((0, dim))
        )
        norms = _np.sqrt((seen * seen).sum(axis=1)) if len(seen) else _np.zeros(0)
        rows = _pd.concat(list(pdfs)).sort_values("vec_id")
        out_ids, out_dup = [], []
        for vid, emb in zip(rows["vec_id"], rows["embedding"]):
            v = _np.asarray(emb, dtype=_np.float64)
            vn = float(_np.sqrt(v @ v))
            dup = 0
            if len(seen):
                cos = (seen @ v) / (norms * vn)
                # the batch comparison: floor(cos*1e4 + 0.5)/1e4 >= threshold
                if (_np.floor(cos * 10_000 + 0.5) / 10_000 >= threshold).any():
                    dup = 1
            seen = _np.vstack([seen, v[None, :]])
            norms = _np.append(norms, vn)
            ids.append(int(vid))
            out_ids.append(int(vid))
            out_dup.append(dup)
        state.update((ids, [float(x) for x in seen.reshape(-1)]))
        yield _pd.DataFrame(
            {
                "vec_id": _pd.Series(out_ids, dtype="int64"),
                "cluster_id": _pd.Series(
                    [int(key[0])] * len(out_ids), dtype="int64"
                ),
                "is_dup": _pd.Series(out_dup, dtype="int64"),
            }
        )

    return kernel, out_schema, state_schema


def semantic_dedup_stream(
    emb: DataFrame,
    n_planes: int,
    threshold: float | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Streaming semantic dedup: LSH bucket id (FIXED plane count — a
    stream has no corpus count to adapt to; size ``n_planes`` for the
    expected corpus, log2(n/target_pop)) computed as a map expression,
    then a per-bucket stateful kernel. The continuous-ingestion form of
    ``dedup_semantic_lsh``; parity with the batch operator is pinned in
    tests when ``n_planes`` equals the batch's derived plane count."""
    from realtime_datawarehouse_spark.operators import similarity

    threshold = similarity.SEMDEDUP_COSINE if threshold is None else threshold
    dim = similarity.DIM if dim is None else dim
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    bucket = None
    for p, plane in enumerate(similarity.hyperplanes(n_planes)):
        lit_plane = F.array(*[F.lit(c) for c in plane])
        d = F.aggregate(
            F.zip_with(v, lit_plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        term = F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    kernel, out_schema, state_schema = semantic_dedup_kernel_factory(
        threshold, dim
    )
    return (
        emb.withColumn("bucket_id", bucket.cast("long"))
        .groupBy("bucket_id")
        .applyInPandasWithState(
            kernel,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def bitmap_uv_state_stream(events: DataFrame) -> DataFrame:
    """Streaming form of olap_bitmap_uv_state's STATE layer: maintain the
    per-(event_type, bucket) user bitmap incrementally — bitmap_construct_agg
    is a commutative-monoid aggregate, so Structured Streaming merges each
    micro-batch's partial bitmaps into the state-store value exactly like
    sums (run in complete/update mode; readouts — bitmap_count rollups —
    are batch queries over the emitted state, keeping the pipeline to ONE
    stateful operator). State size: |types| × |user-space|/32768 bitmap
    rows, independent of event volume."""
    return events.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bkt")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        )
    )


def ohlc_bars_stream(
    ev: DataFrame,
    ts_col: str = "ts",
    key: str = "event_type",
    width: str = "1 hour",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming twin of ``olap_ohlc_bars``: per (key, event-time hour)
    open/high/low/close + quantized volume, maintained incrementally.

    State per open bar is ONE aggregate row — min_by/max_by keep a single
    (value, order-key) pair each, so the store never holds ticks; the
    order key is the same zero-padded ``epoch_us‖event_id`` scalar as the
    batch plan, making first/last picks arrival-order-free (a late tick
    with an earlier order key correctly replaces ``open``). Bars emit on
    watermark passage (append mode) and agree exactly with the batch
    query for closed bars."""
    from realtime_datawarehouse_spark.functions.compare import dsum

    ordk = F.concat(
        F.lpad(F.unix_micros(F.col(ts_col)).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col), F.col(key), F.col("value"), ordk.alias("ordk")
        )
        .groupBy(F.window(F.col(ts_col), width), F.col(key))
        .agg(
            F.min_by("value", "ordk").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ordk").alias("close"),
            dsum(F.col("value")).alias("volume"),
            F.count("*").alias("trade_ct"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "bar_start"
            ),
            key,
            "open",
            "high",
            "low",
            "close",
            "volume",
            "trade_ct",
        )
    )


def ewma_kernel_factory():
    """Streaming twin of ``olap_ewma_user_value``: per-key integer
    fixed-point EWMA (s ← ⌊(3·x + 7·s)/10⌋ over 1e-6-quantized values).
    State is ONE int64 per key — the smoothing value itself — so the
    store never grows with history; arrival in event-time order is the
    contract (same as the batch plan's sort), enforced per batch by an
    okey sort inside the kernel.

    Returns (kernel, output_schema, state_schema)."""
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ewma_q6", LongType()),
        ]
    )
    state_schema = StructType([StructField("s", LongType())])

    def kernel(key: Any, pdfs, state: GroupState):
        s = state.get[0] if state.exists else None
        out_eid, out_s = [], []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("okey")
            for eid, vq in zip(pdf["event_id"], pdf["vq"]):
                vq = int(vq)
                s = vq if s is None else (3 * vq + 7 * s) // 10
                out_eid.append(int(eid))
                out_s.append(s)
        if s is not None:
            state.update((s,))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(out_eid),
                "event_id": out_eid,
                "ewma_q6": out_s,
            }
        )

    return kernel, out_schema, state_schema


def ewma_stream(ev: DataFrame) -> DataFrame:
    """Per-user streaming EWMA over ``value`` (event-time order)."""
    kernel, out_schema, state_schema = ewma_kernel_factory()
    okey = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    prepared = ev.select(
        "user_id",
        "event_id",
        okey.alias("okey"),
        F.floor(F.col("value") * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("vq"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        kernel,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def scd2_kernel_factory():
    """Streaming SCD Type-2 builder (the incremental twin of
    plans/warehouse_ext.olap_scd2_intervals): per user, collapse the
    event-type stream into validity intervals, EMITTING each interval the
    moment it closes (a different type arrives). The open run stays in
    state — exactly the 'current' row of an SCD2 dimension; downstream
    PK-upsert (K2) keeps the serving table's open rows fresh.

    State is three scalars per user (type, run start, count) — O(keys)
    regardless of history length, the property that lets the dimension
    build run forever. Requires per-user event-time order across batches
    (the parity test feeds ordered files; in production the source is a
    compacted per-key log or a watermark+sort stage)."""
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("valid_from", TimestampType()),
            StructField("valid_to", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("cur_type", StringType()),
            StructField("start_us", LongType()),
            StructField("n", LongType()),
        ]
    )

    def kernel(key: Any, pdfs, state: GroupState):
        cur_type, start_us, n = (None, None, 0)
        if state.exists:
            cur_type, start_us, n = state.get
        closed: list[tuple] = []
        uid = int(key[0])
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            ts_us = pdf["ts"].astype("int64") // 1000
            for et, t in zip(pdf["event_type"].tolist(), ts_us.tolist()):
                if cur_type is None:
                    cur_type, start_us, n = et, int(t), 1
                elif et == cur_type:
                    n += 1
                else:
                    closed.append((uid, cur_type, start_us, int(t), n))
                    cur_type, start_us, n = et, int(t), 1
        state.update((cur_type, start_us, n))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "event_type": [c[1] for c in closed],
                    "valid_from": [pd.Timestamp(c[2] * 1000) for c in closed],
                    "valid_to": [pd.Timestamp(c[3] * 1000) for c in closed],
                    "n_events": [c[4] for c in closed],
                }
            )

    return kernel, out_schema, state_schema


def scd2_stream(ev: DataFrame) -> DataFrame:
    kernel, out_schema, state_schema = scd2_kernel_factory()
    return ev.groupBy("user_id").applyInPandasWithState(
        kernel,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def kmv_kernel_factory(k: int = 64):
    """Streaming KMV (bottom-k) distinct sketch per key: state is the
    sorted array of the k smallest DISTINCT 60-bit hashes seen — constant
    size per key forever, the streaming twin of plans/sketch_agg
    ``sk_kmv_distinct`` (same estimator, identical values once the stream
    drains). Each batch emits (key, est_uv, upd_seq); the latest seq per
    key is the current estimate (PK-upsert/K2 collapses resends).
    """
    from pyspark.sql.types import ArrayType

    out_schema = StructType(
        [
            StructField("dt", StringType()),
            StructField("est_uv", LongType()),
            StructField("upd_seq", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("hashes", ArrayType(LongType())),
            StructField("seq", LongType()),
        ]
    )
    space = float(1 << 60)

    def kernel(key: Any, pdfs, state: GroupState):
        hashes: list[int] = []
        seq = 0
        if state.exists:
            stored, seq = state.get
            hashes = list(stored)
        s = set(hashes)
        for pdf in pdfs:
            if len(pdf):
                s.update(int(h) for h in pdf["h"])
        hashes = sorted(s)[:k]
        seq += 1
        state.update((hashes, seq))
        if len(hashes) < k:
            est = len(hashes)
        else:
            est = int((float(k) - 1.0) * space / float(hashes[-1]))
        yield pd.DataFrame(
            {"dt": [str(key[0])], "est_uv": [est], "upd_seq": [seq]}
        )

    return kernel, out_schema, state_schema


def kmv_stream(ev: DataFrame, k: int = 64) -> DataFrame:
    """Daily distinct-user KMV estimates over a stream: the portable
    hash64 is computed JVM-side (codegen) before grouping; only the
    (dt, h) pairs reach the Python state kernel."""
    from realtime_datawarehouse_spark.functions.hashing import hash64
    from realtime_datawarehouse_spark.functions.timeutil import fmt_date

    kernel, out_schema, state_schema = kmv_kernel_factory(k)
    keyed = ev.select(
        fmt_date("ts").alias("dt"),
        hash64(F.col("user_id").cast("string")).alias("h"),
    )
    return keyed.groupBy("dt").applyInPandasWithState(
        kernel,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def growth_accounting_kernel_factory():
    """Streaming user-lifecycle classifier (incremental twin of
    plans/warehouse_ext.olap_growth_accounting's new/retained/resurrected
    states): per user, ONE epoch-day of state (last active day). Each
    newly-seen active day emits a (day, class) row — 'new' on first
    sighting ever, 'retained' when the previous active day was yesterday,
    'resurrected' after a gap; a day already counted emits nothing, so
    downstream per-day counts are exactly the batch decomposition
    (churned-from-prev needs one day of look-AHEAD and stays batch-side
    by design). Requires per-user event-time order across batches, like
    scd2_stream."""
    out_schema = StructType(
        [
            StructField("d", LongType()),  # epoch days
            StructField("cls", StringType()),
        ]
    )
    state_schema = StructType([StructField("last_day", LongType())])

    def kernel(key: Any, pdfs, state: GroupState):
        last = state.get[0] if state.exists else None
        rows: list[tuple[int, str]] = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            days = sorted(
                set((pdf["ts"].astype("int64") // 86_400_000_000_000).tolist())
            )
            for d in days:
                if last is None:
                    rows.append((d, "new"))
                elif d == last:
                    continue
                elif d == last + 1:
                    rows.append((d, "retained"))
                elif d > last + 1:
                    rows.append((d, "resurrected"))
                else:  # out-of-order day below state: contract violation
                    continue
                last = d
        state.update((last,))
        if rows:
            yield pd.DataFrame(
                {"d": [r[0] for r in rows], "cls": [r[1] for r in rows]}
            )

    return kernel, out_schema, state_schema


def growth_accounting_stream(ev: DataFrame) -> DataFrame:
    kernel, out_schema, state_schema = growth_accounting_kernel_factory()
    return ev.groupBy("user_id").applyInPandasWithState(
        kernel,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def clamped_balance_kernel_factory():
    """Streaming twin of ``olap_clamped_running_balance``: per-part stock
    on hand with the max(0, prev + delta) clamp. State is ONE int64 per
    part (the balance itself); event-time arrival order is the contract,
    enforced per batch by the okey sort — the streaming form runs the
    literal recursion the batch plan computes via the reflection
    identity, so parity doubles as an independent proof of that identity
    across micro-batch boundaries.

    Returns (kernel, output_schema, state_schema)."""
    out_schema = StructType(
        [
            StructField("partkey", LongType()),
            StructField("line_id", LongType()),
            StructField("delta", LongType()),
            StructField("balance", LongType()),
        ]
    )
    state_schema = StructType([StructField("bal", LongType())])

    def kernel(key: Any, pdfs, state: GroupState):
        bal = state.get[0] if state.exists else 0
        out_lid, out_d, out_b = [], [], []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("okey")
            for lid, delta in zip(pdf["line_id"], pdf["delta"]):
                bal = max(0, bal + int(delta))
                out_lid.append(int(lid))
                out_d.append(int(delta))
                out_b.append(bal)
        state.update((bal,))
        yield pd.DataFrame(
            {
                "partkey": [int(key[0])] * len(out_lid),
                "line_id": out_lid,
                "delta": out_d,
                "balance": out_b,
            }
        )

    return kernel, out_schema, state_schema


def clamped_balance_stream(li: DataFrame) -> DataFrame:
    """Per-part streaming stock-on-hand over a lineitem-shaped stream
    ('A' receives, 'R' issues, clamped at zero)."""
    kernel, out_schema, state_schema = clamped_balance_kernel_factory()
    okey = F.concat(
        F.lpad(F.unix_micros(F.col("l_shipdate")).cast("string"), 20, "0"),
        F.lpad(F.col("l_orderkey").cast("string"), 12, "0"),
        F.lpad(F.col("l_linenumber").cast("string"), 4, "0"),
    )
    prepared = li.where(F.col("l_returnflag").isin("A", "R")).select(
        F.col("l_partkey").alias("partkey"),
        (F.col("l_orderkey") * 16 + F.col("l_linenumber")).alias("line_id"),
        okey.alias("okey"),
        F.when(
            F.col("l_returnflag") == "A", F.col("l_quantity").cast("bigint")
        )
        .otherwise(-F.col("l_quantity").cast("bigint"))
        .alias("delta"),
    )
    return prepared.groupBy("partkey").applyInPandasWithState(
        kernel,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def content_sniff_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of mm_content_sniff: the magic-byte router runs
    unchanged on a document stream (pure stateless expressions + one
    streaming aggregation — state is one row per content type). The
    ingest gate pattern: counts by sniffed type feed a dashboard while
    the typed payloads route to per-modality sinks."""
    from realtime_datawarehouse_spark.operators.multimodal import (
        _JPEG_MAGIC,
        _PNG_MAGIC,
        _RIFF,
        _WAVE,
        attach_typed_payload,
    )

    p = attach_typed_payload(docs)
    head = lambda off, n: F.substring(F.col("payload"), off, n)  # noqa: E731
    ctype = (
        F.when(head(1, 8) == F.lit(_PNG_MAGIC), "image/png")
        .when(head(1, 4) == F.lit(_JPEG_MAGIC), "image/jpeg")
        .when(
            (head(1, 4) == F.lit(_RIFF)) & (head(9, 4) == F.lit(_WAVE)),
            "audio/wav",
        )
        .otherwise("application/octet-stream")
    )
    return (
        p.select(ctype.alias("content_type"), F.length("payload").alias("nb"))
        .groupBy("content_type")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("nb").cast("bigint").alias("total_bytes"),
        )
    )
