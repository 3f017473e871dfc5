"""End-to-end streaming pipelines — the reference's 15 job mains recomposed
as source → operators → sink graphs (SURVEY.md §3).

Each function takes an already-constructed raw stream (a (value: string)
DataFrame from Kafka, socket, files, or MemoryStream) so the same wiring
runs against any source; production wiring plugs sources/kafka.py in.

The layered topology (SURVEY.md §3.4) maps one streaming query per
reference job; intermediate topics become either Kafka topics (parity mode)
or parquet/Delta-style directories (pipeline mode) — both at-least-once with
PK-collapse on read (sources/kafka.latest_by_key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import os
from collections.abc import Callable

from pyspark.sql import SparkSession

from realtime_datawarehouse_spark.functions.compare import pround
from realtime_datawarehouse_spark.operators import config_router, table_store
from realtime_datawarehouse_spark.sources import log_events, maxwell
from realtime_datawarehouse_spark.streaming import jobs


def dwd_cart_add(raw: DataFrame) -> DataFrame:
    """DwdTradeCartAdd (rt/app/dwd/db/DwdTradeCartAdd.java): topic_db →
    Maxwell parse → ETL filter → ``cart_info`` rows → cart-add facts with
    quantity delta and ``event_time`` (the epoch-seconds ``ts`` as a
    timestamp, the W4 seconds→timestamp fixup)."""
    env = maxwell.etl_filter(maxwell.parse_envelope(raw)).where(
        F.col("table") == "cart_info"
    )
    return maxwell.cart_add_delta(
        env.withColumn(
            "event_time", F.timestamp_seconds(F.col("ts").cast("long"))
        ),
        extra_cols=("event_time",),
    )


def _cart_add_uu_windows(facts: DataFrame) -> DataFrame:
    """First cart-add fact per user per day → 10 s tumble UU count.

    The watermark is the day-TTL delay: the daily dedup needs ≥ 24h of
    state retention to be exact AND leak-free (see jobs.first_per_user_day),
    and Spark ties dedup eviction and window emission to the one per-stream
    watermark — so windows emit once the day closes, the batch-daily
    reading of the job."""
    firsts = jobs.first_per_user_day(
        facts.withColumn("visit_date", F.to_date("event_time")),
        ts_col="event_time",
        key="user_id",
        watermark=jobs.DAY_TTL_WATERMARK,
    )
    return (
        firsts.groupBy(F.window("event_time", "10 seconds"))
        .agg(F.count("*").alias("cart_add_uu_ct"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "cart_add_uu_ct",
        )
    )


def dws_cart_add_uu_window(raw: DataFrame) -> DataFrame:
    """DwsTradeCartAddUuWindow (rt/app/dws/DwsTradeCartAddUuWindow.java:76-139):
    topic_db → :func:`dwd_cart_add` facts → first fact per user per day →
    10 s tumble count. Only cart-add facts count, as in the reference job,
    which reads the dwd_trade_cart_add topic: rows of other tables and
    cart updates that do not raise ``sku_num`` are not cart adds."""
    return _cart_add_uu_windows(dwd_cart_add(raw))


def dws_sku_order_window(
    order_detail: DataFrame,
    order_info: DataFrame,
    sku_dim: DataFrame,
    band: str = "200 days",
    window: str = "10 minutes",
    watermark: str = jobs.DEFAULT_WATERMARK,
) -> DataFrame:
    """DwsTradeSkuOrderWindow (rt/app/dws/DwsTradeSkuOrderWindow.java), the
    reference's most complex job, as one streaming graph:

        order_detail ⋈ order_info         (J1: watermarked stream-stream join,
                                           replaces Flink's keyed-state join)
        → ⋈ broadcast(sku_dim)            (J7: static dim snapshot replaces
                                           the async Phoenix+Redis machinery)
        → window agg per (tumble, brand)  (A5/A6: money sum + order count)

    ``order_detail``: (order_id, sku_id, amount, detail_ts);
    ``order_info``:   (oi_order_id, user_id, order_ts);
    ``sku_dim``:      static (sku_id, brand).
    """
    joined = jobs.stream_stream_join(
        order_detail,
        order_info,
        left_ts="detail_ts",
        right_ts="order_ts",
        on=(F.col("order_id") == F.col("oi_order_id")),
        band=band,
        watermark=watermark,
    )
    enriched = joined.join(F.broadcast(sku_dim), on="sku_id")
    return (
        enriched.groupBy(F.window("detail_ts", window), F.col("brand"))
        .agg(
            F.count("*").alias("order_ct"),
            F.sum("amount").alias("order_amount"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            "brand",
            "order_ct",
            pround(F.col("order_amount")).alias("order_amount"),
        )
    )


def dwd_log_split(raw: DataFrame) -> dict[str, DataFrame]:
    """DwdTrafficBaseLogSplit (rt/app/dwd/log/DwdTrafficBaseLogSplit.java):
    topic_log → tolerant parse → dirty side-output + 5-way demux.

    Returns the six streams; callers attach one sink each (the reference
    writes 5 Kafka topics + a dirty topic, K6)."""
    clean, dirty = log_events.parse_with_dirty_routing(raw)
    out = log_events.split_log(clean)
    out["dirty"] = dirty
    return out


def dws_keyword_window(
    raw: DataFrame, watermark: str = jobs.DEFAULT_WATERMARK
) -> DataFrame:
    """DwsTrafficSourceKeywordPageViewWindow (…:21-83): page stream →
    search-entry filter → tokenize+explode (U1) → 10 s tumble count."""
    clean, _ = log_events.parse_with_dirty_routing(raw)
    searches = clean.where(
        (F.col("page.last_page_id") == "search")
        & (F.col("page.item_type") == "keyword")
    ).select(
        F.col("page.item").alias("fullword"),
        F.timestamp_millis(F.col("ts")).alias("event_time"),
    )
    words = searches.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("fullword")), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("keyword"),
        "event_time",
    )
    return (
        words.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "10 seconds"), "keyword")
        .agg(F.count("*").alias("keyword_count"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "keyword",
            "keyword_count",
        )
    )


def _merge_dim(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    buckets: int | None = None,
) -> None:
    """MERGE one micro-batch into a versioned dim table: newest (ts) row per
    pk wins across stored state + batch; a newest delete removes the pk.
    Executors write the merged snapshot as the next version directory and
    the commit is an atomic pointer flip (operators/table_store.py) — no
    driver-side materialization, and a batch whose deletes empty the table
    commits a real empty version (stale rows never survive). On
    Delta/Iceberg this body is a single MERGE INTO; the collapse expression
    is identical (SURVEY.md §1.4 K4/K5 — the writer creates the table on
    first use, and ``table_store.merge_upsert(evolve_schema=True)`` widens
    the stored schema in the same atomic commit when a batch carries new
    columns: the full dynamic-DDL analog).

    ``buckets``: at deployment scale pass a bucket count so each
    micro-batch merge rewrites only the buckets it touches instead of the
    full dim table (SCALE.md §20); the default keeps the flat layout for
    small dims."""
    table_store.merge_upsert(
        spark,
        incoming,
        path,
        pk="pk",
        version_col="ts",
        delete_when=F.col("type") == "delete",
        buckets=buckets,
    )


def dim_router_stream(
    env_stream: DataFrame,
    config_provider: Callable[[SparkSession], DataFrame],
    out_dir: str,
    buckets: int | None = None,
    expected_rows: int | None = None,
):
    """DimApp as a streaming query with per-micro-batch config hot-reload
    (rt/app/dim/DimApp.java:146-171: the broadcast config stream means new
    ``table_process`` rows take effect on in-flight data; here
    ``config_provider`` is re-invoked every micro-batch — a JDBC re-read in
    production — so config changes apply from the next batch on, same
    operational semantics without a second stream).

    Returns a started-query builder: caller does ``.start()`` after setting
    trigger/checkpoint options.

    Bucketed-layout sizing (VERDICT r5 item 7): pass ``expected_rows`` —
    the dims' expected steady-state cardinality — and the router applies
    the measured SCALE.md §20 rule via ``table_store.auto_buckets``: flat
    below the ~3 M-row crossover (fixed bucketed-merge overheads dominate
    there), else ~1 M rows per bucket (≈ one executor task's state),
    power-of-two, clamped to the bucket cap. An explicit ``buckets``
    overrides the rule. Bucketing is fixed at each table's creation, so
    choose at deployment time, not after the dims have grown.
    """
    if buckets is None:
        buckets = table_store.auto_buckets(expected_rows)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        config = config_provider(spark)
        routed = config_router.route(batch_df, config)
        sinks = [r.sink_table for r in config.select("sink_table").distinct().collect()]
        for sink in sinks:
            rows = routed.where(F.col("sink_table") == sink).select(
                F.col("data")[F.col("sink_pk")].alias("pk"),
                "ts",
                "type",
                "data",
            )
            _merge_dim(spark, rows, os.path.join(out_dir, sink), buckets)

    return env_stream.writeStream.foreachBatch(process_batch)


def streaming_incremental_dedup(
    doc_stream: DataFrame,
    sig_path: str,
    flags_path: str,
    buckets: int | None = None,
    expected_rows: int | None = None,
    comp_path: str | None = None,
):
    """The production ingest-dedup LOOP: every micro-batch of documents is
    flagged against the STANDING corpus signature table, the flags are
    committed, and the batch's own signatures are merged in — so the next
    batch sees this one as corpus. This is the streaming twin of
    ``dedup_incremental_batch`` (plans/llm_ops.py) with the corpus side
    materialized the way the 100 TB deployment keeps it: a versioned
    signature table (``operators/table_store.py``), never recomputed per
    ingest.

    ``doc_stream``: (doc_id long, text string). Two store tables result:
    ``sig_path`` (pk=doc_id, MinHash signature columns) and ``flags_path``
    (pk=doc_id → dup_of, match_bits, batch_id). Both writes go through
    ``merge_upsert`` keyed by doc_id with the micro-batch id as the
    version, so a foreachBatch REPLAY after a crash re-merges the same
    rows idempotently (the exactly-once recipe every store sink here
    uses). Docs within one micro-batch are by design not paired with each
    other — same-batch dups are the upstream
    ``streaming_corpus_ingest`` exact-dedup's job; this stage's contract
    is batch-vs-corpus.

    ``buckets``/``expected_rows``: bucketed-layout knobs for the
    signature table, sized by ``table_store.auto_buckets`` exactly as in
    :func:`dim_router_stream` — at deployment scale the signature table
    is the hot dim this loop maintains, and per-merge cost must stay
    O(batch), not O(corpus).

    ``comp_path`` (VERDICT r7 item 6, the split twin): when set, each
    micro-batch ALSO maintains the near-dup component → split assignment
    table at that path — (doc_id, component_id, split, ver), where
    component_id is the min doc_id of the doc's banded-LSH connected
    component over the ACCUMULATED corpus and split =
    ``textops.split_expr(component_id)``. This is the streaming twin of
    ``mix_cluster_aware_split_neardup``: a component that merges two
    prior components (and therefore possibly two prior SPLITS) resolves
    deterministically to the min-member's hash — exactly the label the
    batch CC would assign, so the table is parity-checkable against the
    batch query at every step
    (tests/test_streaming_pipelines.py::
    test_streaming_split_assignments_track_batch_cc).

    Returns a writeStream builder: caller sets checkpoint/trigger and
    ``.start()``.
    """
    from realtime_datawarehouse_spark.operators import dedup

    if buckets is None:
        buckets = table_store.auto_buckets(expected_rows)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        corpus_sig = table_store.read_state(spark, sig_path)
        corpus_sig = corpus_sig.drop("ver") if corpus_sig is not None else None
        if corpus_sig is not None:
            flags = dedup.incremental_flags_vs_signatures(
                batch_df, corpus_sig
            )
            table_store.merge_upsert(
                spark,
                flags.withColumn("batch_id", F.lit(batch_id)).withColumn(
                    "ver", F.lit(batch_id)
                ),
                flags_path,
                pk="doc_id",
                version_col="ver",
            )
        batch_sig = dedup.minhash_signatures(batch_df)
        if comp_path is not None:
            _maintain_split_components(
                spark, batch_sig, corpus_sig, comp_path, batch_id
            )
        table_store.merge_upsert(
            spark,
            batch_sig.withColumn("ver", F.lit(batch_id)),
            sig_path,
            pk="doc_id",
            version_col="ver",
            buckets=buckets,
        )

    return doc_stream.writeStream.foreachBatch(process_batch)


def _maintain_split_components(
    spark,
    batch_sig: DataFrame,
    corpus_sig,
    comp_path: str,
    batch_id: int,
    buckets: int | None = None,
    props: dict | None = None,
) -> None:
    """One micro-batch of incremental component → split maintenance.

    The component table invariant: after batch N, (doc_id →
    component_id) equals ``dedup.connected_components`` over
    ``dedup.lsh_candidate_pairs`` of the ENTIRE corpus ingested through
    batch N, with component_id = min member doc_id (and split =
    ``split_expr(component_id)``). It holds because
    ``incremental_candidate_pairs`` adds exactly the pairs this batch's
    arrival adds (endpoint signatures never change), and min-root
    union-find over the CONTRACTED graph — pair endpoints replaced by
    their current component ids, which are themselves min member ids —
    reproduces the global min label. A merge of two prior components
    (possibly straddling two splits) therefore resolves to the min
    member's hash: deterministic, replay-idempotent, and identical to
    what the batch query would assign.

    Driver state is BOUNDED BY THE BATCH, never the corpus — with a
    HARD bound since round 9 (VERDICT r8 item 3): the edge list comes
    from ``dedup.incremental_spanning_pairs``, the per-bucket star
    contraction of the pair increment (exact for connectivity — see its
    docstring for the induction argument), so the collect is ≤
    2 × |batch| × BANDS edges REGARDLESS of band-bucket collision
    fanout. A mirror-heavy batch against a mirror-heavy corpus (one hot
    bucket, where the full pair increment inflates to |batch∩bucket| ×
    |corpus∩bucket|) collects one edge per batch band — planted-hot-band
    pinned in tests/test_streaming_pipelines.py. The only corpus-sized
    work is one map-only broadcast-join scan of the component table to
    relabel members of merged components (merge_upsert then rewrites
    only touched rows).

    UPGRADE BOUNDARY: the invariant requires ``comp_path`` maintenance
    from the corpus's FIRST batch. Enabling it later over a pre-existing
    signature table leaves earlier docs without assignment rows (a pair
    endpoint missing from the table is treated as its own singleton
    component, so pre-existing clusters would not relabel as one). To
    adopt mid-corpus, backfill once with the batch CC
    (``dedup.connected_components`` over ``dedup.lsh_candidate_pairs``)
    before the first incremental step."""
    from realtime_datawarehouse_spark.operators import dedup, textops

    pairs = dedup.incremental_spanning_pairs(batch_sig, corpus_sig)
    comp = table_store.read_state(spark, comp_path)
    comp = comp.select("doc_id", "component_id") if comp is not None else None

    batch_ids = [r.doc_id for r in batch_sig.select("doc_id").collect()]
    if not batch_ids:
        return
    pair_rows = pairs.collect()
    need = set(batch_ids)
    for r in pair_rows:
        need.add(r.doc_a)
        need.add(r.doc_b)
    cur: dict = {}
    if comp is not None and need:
        ids_df = spark.createDataFrame(
            [(int(i),) for i in need], "doc_id long"
        )
        cur = {
            r.doc_id: r.component_id
            for r in comp.join(F.broadcast(ids_df), "doc_id").collect()
        }

    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for r in pair_rows:
        u = find(cur.get(r.doc_a, r.doc_a))
        v = find(cur.get(r.doc_b, r.doc_b))
        if u != v:
            lo, hi = (u, v) if u < v else (v, u)
            parent[hi] = lo  # min-root: component_id = min member id

    assign = {d: find(cur.get(d, d)) for d in batch_ids}
    changed = {}
    for c in set(cur.values()):
        root = find(c)
        if root != c:
            changed[c] = root

    updates = spark.createDataFrame(
        [(int(d), int(c)) for d, c in assign.items()],
        "doc_id long, component_id long",
    )
    if changed:
        ch_df = spark.createDataFrame(
            [(int(c), int(n)) for c, n in changed.items()],
            "component_id long, new_component long",
        )
        batch_df_ids = spark.createDataFrame(
            [(int(i),) for i in batch_ids], "doc_id long"
        )
        relabel = (
            comp.join(F.broadcast(ch_df), "component_id")
            .select("doc_id", F.col("new_component").alias("component_id"))
            # batch docs already carry their (identical) new label via
            # `assign`; excluding them keeps one row per pk in the merge
            .join(F.broadcast(batch_df_ids), "doc_id", "left_anti")
        )
        updates = updates.unionByName(relabel)
    table_store.merge_upsert(
        spark,
        updates.withColumn(
            "split", textops.split_expr(F.col("component_id"))
        ).withColumn("ver", F.lit(batch_id)),
        comp_path,
        pk="doc_id",
        version_col="ver",
        buckets=buckets,
        props=props,
    )


def ingest_split_step(
    spark, batch_docs: DataFrame, sig_path: str, comp_path: str, batch_id: int
) -> None:
    """ONE ingest step of the split-maintenance loop outside a stream:
    read the standing signature table, maintain components against it,
    merge the batch's signatures in — the exact write-side sequence of
    ``streaming_incremental_dedup``'s foreachBatch (minus the dup-flag
    table), shared so batch replays/evals and the stream can never
    diverge."""
    from realtime_datawarehouse_spark.operators import dedup

    corpus_sig = table_store.read_state(spark, sig_path)
    corpus_sig = corpus_sig.drop("ver") if corpus_sig is not None else None
    batch_sig = dedup.minhash_signatures(batch_docs)
    _maintain_split_components(
        spark, batch_sig, corpus_sig, comp_path, batch_id
    )
    table_store.merge_upsert(
        spark,
        batch_sig.withColumn("ver", F.lit(batch_id)),
        sig_path,
        pk="doc_id",
        version_col="ver",
    )


# Shared measure→act policy defaults. Module-level constants (not inline
# literals) so the registered policy evals derive their oracle thresholds
# from the SAME value the pipeline functions default to — a silently
# changed pipeline default then breaks the eval loudly instead of leaving
# the oracle pinning a stale threshold (ADVICE r10).
IVF_MAX_BALANCE6_DEFAULT = 4_000_000  # worst list at 4× its even share
QUALITY_PSI_MAX6_DEFAULT = 200_000  # the standard PSI > 0.2 retrain rule

# Embedded-artifact presence/content cache, keyed (table path, committed
# version name, version-directory identity): a committed snapshot is
# immutable, so the probe result for a version can never go stale —
# re-probing happens exactly when the head moves (ADVICE r10: the
# per-call limit(1).count() probe was an extra Spark job on every ingest
# batch and every /similar HTTP request). The identity component — the
# version DIRECTORY's (inode, ctime) — is the table-recreation nonce
# (ADVICE r11, low): delete a table directory and recreate it at the
# same path in-process and version names restart (v-1 recurs); without
# the nonce the cache would keep serving the DELETED table's
# model/codebook/vocab. A recreated dir gets a fresh inode (or at
# minimum a fresh ctime), so its first read is a guaranteed cache miss.
_EMBEDDED_CACHE: dict[tuple, object] = {}
_EMBEDDED_CACHE_MAX = 512


_EMBEDDED_NOSTAT_WARNED = False


def _embedded_cached(kind: str, path: str, version: str, compute):
    apath = os.path.abspath(path)
    try:
        st = os.stat(os.path.join(apath, version))
        nonce: tuple = (st.st_ino, st.st_ctime_ns)
    except OSError:
        # Version dir not statable (foreign store adapters). Failing
        # OPEN here (compute every call, no cache) silently reintroduced
        # the per-request Spark job the cache exists to eliminate
        # (ADVICE r12, low). Version names are themselves immutable
        # committed-snapshot identifiers, so fall back to the
        # name-only cache key — the only signal lost is the
        # table-recreation inode nonce (ADVICE r11), which a
        # non-statable store cannot provide anyway; warn once so a
        # deployment on such a store knows recreation detection is off.
        global _EMBEDDED_NOSTAT_WARNED
        if not _EMBEDDED_NOSTAT_WARNED:
            _EMBEDDED_NOSTAT_WARNED = True
            import warnings

            warnings.warn(
                "embedded-artifact cache: version dir not statable at "
                f"{apath}; caching on version name only (table-recreation "
                "nonce unavailable on this store)",
                RuntimeWarning,
                stacklevel=2,
            )
        nonce = ("no-stat",)
    key = (kind, apath, version, nonce)
    if key not in _EMBEDDED_CACHE:
        if len(_EMBEDDED_CACHE) >= _EMBEDDED_CACHE_MAX:
            _EMBEDDED_CACHE.clear()
        _EMBEDDED_CACHE[key] = compute()
    return _EMBEDDED_CACHE[key]


def ivf_codebook_rows(centroids: DataFrame, ver: int) -> DataFrame:
    """A codebook as rows of the INDEX table's own schema, under the
    reserved negative-key namespace (vec_id = −(centroid_id + 1); real
    vec_ids are non-negative): (vec_id, v=cv, vn=cn, centroid_id, ver).
    Storing the codebook INSIDE the inverted-list table is what makes
    the refresh's codebook+index swap ONE atomic versioned commit — a
    separate codebook table would need a cross-table transaction the
    store deliberately doesn't have (VERDICT r9 item 1)."""
    return centroids.select(
        (-(F.col("centroid_id") + F.lit(1))).cast("long").alias("vec_id"),
        F.col("cv").alias("v"),
        F.col("cn").alias("vn"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.lit(ver).cast("long").alias("ver"),
    )


def read_ivf_index(spark, index_path: str):
    """(codebook | None, assigned): split the standing index table into
    its embedded codebook rows (vec_id < 0, present only after a
    refresh has run — pre-refresh tables carry assignments only) and
    the inverted-list rows. The vec_id < 0 filter reaches the parquet
    scan, so on a table whose files hold only non-negative ids the
    codebook probe is row-group-pruned to footer reads — and since a
    committed snapshot is immutable, the probe result is MEMOIZED per
    (path, version): steady-state ingest batches and /similar requests
    pay zero extra jobs; the head moving is the only cache miss
    (ADVICE r10)."""
    from pyspark.sql import functions as F

    version = table_store.current_version(index_path)
    if version is None:
        return None, None
    state = table_store.read_state(spark, index_path, version=version)
    cb_rows = state.where(F.col("vec_id") < 0)
    has_cb = _embedded_cached(
        "ivf_cb", index_path, version, lambda: cb_rows.limit(1).count() > 0
    )
    codebook = None
    if has_cb:
        codebook = cb_rows.select(
            F.col("centroid_id"),
            F.col("v").alias("cv"),
            F.col("vn").alias("cn"),
        )
    return codebook, state.where(F.col("vec_id") >= 0).drop("ver")


def ingest_ivf_step(
    spark,
    batch_emb: DataFrame,
    centroids: DataFrame,
    index_path: str,
    batch_id: int,
    buckets: int | None = None,
    props: dict | None = None,
) -> None:
    """ONE ingest step of incremental IVF index maintenance (round 8):
    assign the batch's vectors to their nearest centroid and merge the
    (vec_id, v, vn, centroid_id) rows into the standing inverted-list
    table. The codebook is the table's EMBEDDED one when a refresh has
    installed it (``refresh_ivf_index`` — post-refresh batches must
    assign against the refreshed codebook, not the loop-start arg, or
    the table would silently mix two quantizers), else the passed
    ``centroids`` (the day-0 frozen codebook — train once, refresh
    rarely). Assignment depends only on (vector, codebook), so between
    refreshes the maintained table equals ``similarity.ivf_assign`` over
    the accumulated corpus EXACTLY at every step, replays are idempotent
    (same rows, same version), and per-step cost is O(|batch| × k) plus
    one row-group-pruned codebook probe of the head version — the batch
    never joins anything corpus-sized. At 100 TB the table is written
    partitioned/bucketed by centroid_id so probe-time reads scan only
    nprobe lists (the ivf_assign docstring's layout note)."""
    from realtime_datawarehouse_spark.operators import similarity

    stored_cb, _ = read_ivf_index(spark, index_path)
    assigned = similarity.ivf_assign(
        batch_emb, stored_cb if stored_cb is not None else centroids
    )
    table_store.merge_upsert(
        spark,
        assigned.withColumn("ver", F.lit(batch_id)),
        index_path,
        pk="vec_id",
        version_col="ver",
        buckets=buckets,
        props=props,
    )


def refresh_ivf_index(
    spark,
    index_path: str,
    refresh_id: int,
    new_centroids: DataFrame | None = None,
    k: int = 16,
    iters: int = 2,
    attempts: int = 5,
    props: dict | None = None,
    retain: int = 3,
) -> None:
    """CODEBOOK REFRESH for the incrementally-maintained IVF index
    (VERDICT r9 item 1 — the last frozen standing artifact): retrain the
    coarse quantizer on the ACCUMULATED corpus, re-assign every stored
    vector against it, and swap codebook + inverted lists in ONE
    versioned commit.

    - ``new_centroids`` None → ``similarity.train_centroids(corpus, k,
      iters)`` — Lloyd's k-means with the map-combinable assignment and
      O(k × DIM) driver state (the production form). Pass an explicit
      codebook for deterministic/oracle-exact refreshes (the registered
      eval injects the arithmetic-rule codebook recomputed over the full
      accumulated corpus, which is exactly what ``ann_ivf_topk``'s
      oracle assumes).
    - Re-assignment is ONE bounded batch job over the stored lists:
      broadcast new codebook, |corpus| × k cosine in codegen, max_by
      argmax — no window sort, no self-join; each row's merge version
      rides the same struct (``ivf_assign(carry=('ver',))``) so replay
      idempotency of later batch merges is unchanged.
    - ATOMICITY: the new full state (re-assigned lists ∪ embedded
      codebook rows, ``ivf_codebook_rows``) lands via ``table_store.
      commit(expected_version=...)`` — one conditional flip. A crash at
      ANY point before the flip leaves the old codebook serving the old
      lists (readers never see a mixed state); a concurrent ingest merge
      landing mid-refresh surfaces ``ConcurrentCommitError`` and the
      refresh recomputes against the new head (same retry discipline as
      ``merge_upsert``). The refresh doubles as a compaction: the commit
      is a single fresh snapshot, collapsing merge-history small files.

    SCALE: refresh cost is O(|corpus| × k) compute + one full-table
    rewrite — the same class as a compaction pass, amortized over the
    ingest history that drifted the codebook (SCALE.md §34); between
    refreshes every batch stays O(|batch| × k)."""
    from realtime_datawarehouse_spark.operators import similarity

    for attempt in range(attempts):
        base = table_store.current_version(index_path)
        if base is None:
            raise ValueError(f"no IVF index at {index_path} to refresh")
        state = table_store.read_state(spark, index_path)
        data = state.where(F.col("vec_id") >= 0)
        corpus = data.select(
            "vec_id", F.col("v").alias("embedding"), "ver"
        )
        cb = new_centroids
        if cb is None:
            cb = similarity.train_centroids(
                corpus.select("vec_id", "embedding"), k=k, iters=iters
            )
        reassigned = similarity.ivf_assign(corpus, cb, carry=("ver",))
        new_state = reassigned.select(
            "vec_id", "v", "vn", "centroid_id", "ver"
        ).unionByName(
            ivf_codebook_rows(cb, refresh_id).select(
                "vec_id", "v", "vn", "centroid_id", "ver"
            )
        )
        try:
            table_store.commit(
                new_state, index_path, expected_version=base, props=props,
                # retain=3: the refresh double-commits its batch — see
                # refresh_quality_model's retention note
                retain=retain,
            )
            return
        except table_store.ConcurrentCommitError:
            if attempt == attempts - 1:
                raise
            continue


def ivf_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame | None = None,
    k: int = 5,
    nprobe: int | None = None,
) -> DataFrame:
    """Serve IVF top-k from the incrementally-maintained inverted-list
    table — the standing-index read path of ``similarity.ivf_topk``
    (one shared serve implementation, so index-served results cannot
    drift from the batch form). The probe codebook is the table's
    EMBEDDED one when present (a refresh installed it — codebook and
    lists then come from the SAME committed version, so a crash mid-
    refresh can never serve new lists under an old codebook or vice
    versa); ``centroids`` is the pre-refresh fallback and must be the
    frozen codebook the lists were assigned with."""
    from realtime_datawarehouse_spark.operators import similarity

    if nprobe is None:
        nprobe = similarity.NUM_PROBE
    stored_cb, assigned = read_ivf_index(spark, index_path)
    cb = stored_cb if stored_cb is not None else centroids
    if cb is None:
        raise ValueError(
            f"index at {index_path} embeds no codebook (no refresh has "
            "run) and no fallback centroids were passed"
        )
    return similarity.ivf_topk_from_assigned(assigned, queries, cb, k, nprobe)


def incremental_split_report(spark, comp_path: str) -> DataFrame:
    """(split, n_docs, n_clusters, n_rescued) from the streaming-
    maintained component table — the same rollup contract as
    ``mix_cluster_aware_split_neardup``, so the deployed read side is
    one map-only scan of the assignment table instead of a corpus-wide
    LSH + connected-components pass."""
    from realtime_datawarehouse_spark.operators import textops

    comp = table_store.read_state(spark, comp_path)
    return textops.split_rollup(
        comp.select(
            F.col("component_id").alias("cluster_key"),
            F.col("split"),
            textops.split_expr(F.col("doc_id")).alias("doc_split"),
        )
    )


def ivf_index_imbalance6(spark, index_path: str) -> int | None:
    """The standing index's worst balance factor in
    ``ann_ivf_balance_report``'s micro-units (1e6 = perfectly even,
    k·1e6 = everything in one list): max over lists of
    list_size × k × 1e6 / n. None when the index doesn't exist yet.
    One map-combinable count per list + a ≤k-row rollup — the audit
    read the refresh POLICY consumes (the report measures, this
    decides)."""
    _, assigned = read_ivf_index(spark, index_path)
    if assigned is None:
        return None
    sz = assigned.groupBy("centroid_id").agg(F.count("*").alias("c"))
    row = sz.agg(
        F.max("c").alias("mx"),
        F.sum("c").alias("n"),
        F.count("*").alias("k"),
    ).collect()[0]
    if not row.n:
        return None
    return int(row.mx * row.k * 1_000_000 // row.n)


def ivf_refresh_if_needed(
    spark,
    index_path: str,
    refresh_id: int,
    max_balance6: int = IVF_MAX_BALANCE6_DEFAULT,
    new_centroids: DataFrame | None = None,
    k: int = 16,
    iters: int = 2,
    report: dict | None = None,
    props: dict | None = None,
) -> bool:
    """The measure→act completion of the IVF maintenance loop (VERDICT
    r9 item 1's second half: ``ann_ivf_balance_report`` measured
    imbalance and nothing consumed it): refresh the codebook IFF the
    standing index's worst balance factor exceeds ``max_balance6``
    (micro-units, 4e6 = some list holds 4× its even share — probe
    latency and partition skew both track that list; the factor is
    capped at k·1e6 when everything lands in one list, so a reachable
    threshold needs k > max_balance6/1e6 — the default assumes the
    production k ≥ 8). Returns whether a refresh ran. Crash/replay note: the check is self-healing — a
    replayed trigger batch re-reads the NOW-BALANCED index and skips,
    so double-refresh needs no extra guard; serve stays consistent at
    every point because the swap itself is the atomic commit.

    ``report`` (round 12): when a dict is passed, the MEASURED value
    and the decision are recorded into it ({"imbalance6": int | None,
    "fired": bool}) — the observability hook the composed loop's
    per-step report threads through, so an ops surface (and the
    registered v3 eval's oracle) sees exactly what the policy saw."""
    imb = ivf_index_imbalance6(spark, index_path)
    fired = imb is not None and imb > max_balance6
    if report is not None:
        report["imbalance6"] = imb
        report["fired"] = fired
    if not fired:
        return False
    refresh_ivf_index(
        spark,
        index_path,
        refresh_id,
        new_centroids=new_centroids,
        k=k,
        iters=iters,
        props=props,
    )
    return True


# ---------------------------------------------------------------------------
# Quality-classifier model maintenance (round 11, VERDICT r10 item 1): the
# trained weights driven through the composed loop were the last
# train-once-frozen-forever standing artifact. The same embedded-artifact
# discipline as the IVF codebook closes it: the model (weight table + a
# training-time score-distribution snapshot) lives INSIDE the standing
# quality table under a reserved negative-key namespace, so model + rescored
# corpus swap in ONE conditional commit; the measure→act trigger is the
# Population Stability Index of the standing scores against the embedded
# snapshot (the olap_snapshot_drift_psi kernel, fixed margin bins).

QUALITY_PSI_BINS = 10
QUALITY_PSI_BIN_MILLI = 5_000  # fixed-width margin_milli bins centred on 0


def _quality_bin(margin: F.Column) -> F.Column:
    """margin_milli → fixed PSI bin id in [0, QUALITY_PSI_BINS): 10 bins
    of 5 000 milli centred on zero, tails clamped into the edge bins.
    FIXED edges (not data-derived quantiles) so the snapshot taken at
    train time and any later window bin identically — the precondition
    for PSI to measure drift rather than binning skew. floor over a
    double quotient, not integer ``div``: Spark's div truncates toward
    zero while the oracle's // floors, and margins are signed."""
    return F.least(
        F.greatest(
            F.floor(margin / F.lit(float(QUALITY_PSI_BIN_MILLI)))
            + F.lit(QUALITY_PSI_BINS // 2),
            F.lit(0).cast("bigint"),
        ),
        F.lit(QUALITY_PSI_BINS - 1).cast("bigint"),
    )


def quality_score_hist(scores: DataFrame) -> DataFrame:
    """(bin, ct): the standing score distribution over the fixed margin
    bins — ALL bins present (empty ones as 0) so snapshot and current
    histograms always align row-for-row. One map-combined count over a
    10-key space."""
    spark = scores.sparkSession
    bins = spark.range(QUALITY_PSI_BINS).select(F.col("id").alias("bin"))
    cts = (
        scores.select(_quality_bin(F.col("margin_milli")).alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("c"))
    )
    return bins.join(cts, "bin", "left").select(
        "bin", F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("ct")
    )


def quality_model_rows(
    weights: DataFrame, snapshot: DataFrame, ver: int, dim: int | None = None
) -> DataFrame:
    """Model artifacts as rows of the quality table's OWN schema under the
    reserved negative-key namespace (real doc_ids are non-negative):

    - weight rows:   doc_id = −(1 + bucket),        margin_milli = w_milli,
                     keep = −1;
    - snapshot rows: doc_id = −(1 + dim + bin),     margin_milli = count,
                     keep = −2 (the train-time score histogram the PSI
                     trigger compares against).

    The ``ivf_codebook_rows`` trick (…:519): embedding the artifact in the
    data table is what makes weights + snapshot + rescored corpus ONE
    atomic versioned commit — crash at any point leaves the old model
    scoring, and serving the old scores, consistently."""
    from realtime_datawarehouse_spark.operators import textops

    if dim is None:
        dim = textops.CLS_DIM
    w_rows = weights.select(
        (-(F.col("bucket").cast("long") + 1)).alias("doc_id"),
        F.col("w_milli").cast("long").alias("margin_milli"),
        F.lit(-1).cast("int").alias("keep"),
        F.lit(ver).cast("long").alias("ver"),
    )
    s_rows = snapshot.select(
        (-(F.col("bin") + F.lit(1 + dim))).cast("long").alias("doc_id"),
        F.col("ct").cast("long").alias("margin_milli"),
        F.lit(-2).cast("int").alias("keep"),
        F.lit(ver).cast("long").alias("ver"),
    )
    return w_rows.unionByName(s_rows)


def read_quality_state(spark, quality_path: str, dim: int | None = None):
    """(weights | None, snapshot | None, scores | None): split the
    standing quality table into its embedded model rows and the real
    per-doc scores. The model rows (≤ dim + bins of them) are collected
    ONCE per committed version and memoized — committed snapshots are
    immutable, so steady-state batches score through the embedded model
    with zero extra probe jobs (same cache as ``read_ivf_index``)."""
    from realtime_datawarehouse_spark.operators import textops

    if dim is None:
        dim = textops.CLS_DIM
    version = table_store.current_version(quality_path)
    if version is None:
        return None, None, None
    state = table_store.read_state(spark, quality_path, version=version)

    def collect_model():
        rows = state.where(F.col("doc_id") < 0).collect()
        w = [
            (int(-r.doc_id - 1), int(r.margin_milli))
            for r in rows
            if r.keep == -1
        ]
        s = [
            (int(-r.doc_id - 1 - dim), int(r.margin_milli))
            for r in rows
            if r.keep == -2
        ]
        return (w or None, s or None)

    w_rows, s_rows = _embedded_cached(
        "quality_model", quality_path, version, collect_model
    )
    weights = (
        spark.createDataFrame(w_rows, "bucket int, w_milli long")
        if w_rows
        else None
    )
    snapshot = (
        spark.createDataFrame(sorted(s_rows), "bin long, ct long")
        if s_rows
        else None
    )
    return weights, snapshot, state.where(F.col("doc_id") >= 0).drop("ver")


def _psi6(base: list[tuple[int, int]], cur: list[tuple[int, int]]) -> int:
    """PSI in micro-units between two (bin, ct) histograms over the SAME
    fixed bin set, add-one smoothed, each bin's term floor(·1e6 + 0.5)
    quantized before the sum — the exact arithmetic of the registered
    ``olap_snapshot_drift_psi`` kernel (plans/analytic.py:3545), driver-
    side because both inputs are ≤ QUALITY_PSI_BINS rows. ln is the one
    libm term (quantize-after-ln agreement-in-practice caveat, same as
    unigram_logprob)."""
    import math

    b = dict(base)
    c = dict(cur)
    sb = {i: b.get(i, 0) + 1 for i in range(QUALITY_PSI_BINS)}
    sc = {i: c.get(i, 0) + 1 for i in range(QUALITY_PSI_BINS)}
    nb = sum(sb.values())
    nc = sum(sc.values())
    total = 0
    for i in range(QUALITY_PSI_BINS):
        p = sb[i] / nb
        q = sc[i] / nc
        total += math.floor((p - q) * math.log(p / q) * 1_000_000 + 0.5)
    return total


def quality_drift_psi6(spark, quality_path: str) -> int | None:
    """The measure half of the quality-model refresh policy: PSI (micro-
    units) of the STANDING score distribution vs the embedded training-
    time snapshot. None when no model/snapshot is installed (nothing to
    drift from). Cost: one map-combined 10-key count over the score rows
    plus the memoized model read — the audit a cadence point pays."""
    _, snapshot, scores = read_quality_state(spark, quality_path)
    if snapshot is None or scores is None:
        return None
    cur = [
        (int(r.bin), int(r.ct))
        for r in quality_score_hist(scores).collect()
    ]
    base = [(int(r.bin), int(r.ct)) for r in snapshot.collect()]
    return _psi6(base, cur)


def refresh_quality_model(
    spark,
    quality_path: str,
    corpus_docs: DataFrame,
    refresh_id: int,
    label: F.Column | None = None,
    new_weights: DataFrame | None = None,
    attempts: int = 5,
    props: dict | None = None,
    retain: int = 3,
) -> None:
    """MODEL REFRESH for the standing quality table (VERDICT r10 item 1 —
    the trained classifier weights were the last frozen standing
    artifact): retrain on the ACCUMULATED corpus, re-score every corpus
    document, take a fresh score-distribution snapshot, and swap
    weights + snapshot + scores in ONE versioned commit.

    - ``corpus_docs``: the accumulated raw corpus (doc_id, text[, label])
      — quality scoring needs the text, which no standing table carries
      (the signature table holds MinHash bands only), so the refresh
      reads the lake's document table the way every periodic retrain
      does. One bounded batch job: tokenize → broadcast-join the ≤dim-row
      weight table → per-doc sum; compaction-class, amortized over the
      ingest history that drifted the distribution.
    - ``new_weights`` None → ``textops.train_quality_classifier(
      corpus_docs, label)`` (integer-deterministic full-batch GD — the
      production form; ``label`` defaults to the corpus's ``label``
      column = 1). Pass an explicit (bucket, w_milli) table for
      deterministic/oracle-exact refreshes (the registered eval injects
      the arithmetic-rule table ``QUALITY_CLASSIFIER_ORACLE`` assumes).
    - ATOMICITY: the new full state (rescored corpus ∪ model rows) lands
      via ``table_store.commit(expected_version=...)`` — one conditional
      flip, ``ConcurrentCommitError`` retried against the new head
      (same discipline as ``refresh_ivf_index``). A crash at any point
      leaves old-model-scoring-old-scores; readers never see new weights
      over stale scores or vice versa. The snapshot taken is the NEW
      scores' histogram, so post-refresh PSI is exactly 0 and a replayed
      trigger batch self-heals into the skip path (no double-refresh
      guard needed).

    Reference scope note: the reference engine has no model-maintenance
    loop at all (its dims are Phoenix tables, rt/app/dim/DimApp.java);
    this is the LLM-pipeline extension's production shape."""
    from realtime_datawarehouse_spark.operators import textops

    docs = corpus_docs.select("doc_id", "text")
    for attempt in range(attempts):
        base = table_store.current_version(quality_path)
        wdf = new_weights
        if wdf is None:
            lab = label if label is not None else F.col("label") == 1
            w, _, _ = textops.train_quality_classifier(corpus_docs, lab)
            wdf = textops.classifier_weights_df(spark, w)
        scored = textops.quality_classifier(docs, weights=wdf).select(
            "doc_id",
            "margin_milli",
            "keep",
            F.lit(refresh_id).cast("long").alias("ver"),
        )
        snapshot = quality_score_hist(scored)
        new_state = scored.unionByName(
            quality_model_rows(wdf, snapshot, refresh_id)
        )
        try:
            table_store.commit(
                new_state,
                quality_path,
                expected_version=base,
                props=props,
                # retain=3, not the store default 2 (code-review r12):
                # a fired refresh is the SECOND commit of its batch, so
                # with retain=2 it would evict the PREVIOUS batch's
                # version — the exact snapshot a consistent-frontier
                # reader polling mid-step needs (consistent_snapshot's
                # retention contract)
                retain=retain,
            )
            return
        except table_store.ConcurrentCommitError:
            if attempt == attempts - 1:
                raise
            continue


def quality_refresh_if_needed(
    spark,
    quality_path: str,
    corpus_docs: DataFrame,
    refresh_id: int,
    max_psi6: int = QUALITY_PSI_MAX6_DEFAULT,
    label: F.Column | None = None,
    new_weights: DataFrame | None = None,
    report: dict | None = None,
    props: dict | None = None,
) -> bool:
    """The measure→act completion of the quality-model loop (the IVF
    twin of ``ivf_refresh_if_needed``): retrain + atomically swap the
    embedded model IFF the standing score distribution has drifted more
    than ``max_psi6`` (micro-PSI; the default is the standard 0.2 alert
    level model monitoring retrains at) from the training-time snapshot.
    Returns whether a refresh ran; False too when no model is installed
    yet (nothing to compare — install via ``refresh_quality_model``).
    Crash/replay: self-healing, because the refresh snapshots the NEW
    distribution (post-refresh PSI = 0 < any sane threshold).
    ``report`` (round 12): when passed, records what the policy saw —
    {"psi6": int | None, "fired": bool} — the
    ``ivf_refresh_if_needed`` observability hook."""
    psi = quality_drift_psi6(spark, quality_path)
    fired = psi is not None and psi > max_psi6
    if report is not None:
        report["psi6"] = psi
        report["fired"] = fired
    if not fired:
        return False
    refresh_quality_model(
        spark,
        quality_path,
        corpus_docs,
        refresh_id,
        label=label,
        new_weights=new_weights,
        props=props,
    )
    return True


def ingest_quality_step(
    spark,
    batch_docs: DataFrame,
    quality_path: str,
    batch_id: int,
    weights: DataFrame | None = None,
    buckets: int | None = None,
    props: dict | None = None,
) -> None:
    """ONE ingest step of standing quality-table maintenance: score the
    batch and merge (doc_id, margin_milli, keep). The scoring weights are
    the table's EMBEDDED model when a refresh has installed one
    (post-refresh batches must score under the refreshed model, not the
    loop-start argument, or the table would silently mix two models —
    the ``ingest_ivf_step`` stored-codebook rule), else ``weights``
    (a trained day-0 export), else the deterministic stand-in. Shared by
    the composed loop and the registered refresh eval so replays/evals
    and the stream can never diverge (the ``ingest_split_step``
    pattern). Per-batch cost: map-only scoring + one bounded merge; the
    embedded-model read is memoized per committed version."""
    from realtime_datawarehouse_spark.operators import textops

    embedded, _, _ = read_quality_state(spark, quality_path)
    use = embedded if embedded is not None else weights
    scored = textops.quality_classifier(batch_docs, weights=use)
    table_store.merge_upsert(
        spark,
        scored.select("doc_id", "margin_milli", "keep").withColumn(
            # long, matching refresh_quality_model's commit, so merges
            # after a refresh never union mismatched version dtypes
            "ver",
            F.lit(batch_id).cast("long"),
        ),
        quality_path,
        pk="doc_id",
        version_col="ver",
        buckets=buckets,
        props=props,
    )


# ---------------------------------------------------------------------------
# BPE vocabulary refresh (round 11, VERDICT r10 item 2): the deployed
# encoder's merge table was loop-start-frozen while the corpus drifts. The
# maintenance loop here versions the vocab in the table store, watches the
# per-batch compression ratio (tokens_after/tokens_before — the OOV/byte-
# fallback analog for a character-fallback BPE: drifted text stays
# un-merged and the ratio creeps toward 1.0), retrains on the accumulated
# corpus when a batch's ratio exceeds the vocab's training-time snapshot by
# the margin, and — critically — re-encodes only NEW batches: every stored
# encoding records the vocab_ver that produced it and stays valid under
# that version forever (re-encoding a 100 TB corpus per refresh would be
# the scale-killer; a consumer needing one tokenization re-encodes lazily).

BPE_REFRESH_MARGIN_MILLI = 50  # fire at snapshot ratio + 5 points
BPE_VOCAB_SCHEMA = (
    "vocab_ver long, step long, left string, right string, ratio_milli long"
)


def _bpe_vocab_rows(spark, vocab_path: str, version: str):
    """All rows of the vocab table at a committed version as plain
    tuples (vocab_ver, step, left, right, ratio_milli) — ONE bounded
    collect per version, memoized; shared by the reader and the
    installer's replay check so the cache always holds one shape."""
    state = table_store.read_state(spark, vocab_path, version=version)

    def collect_all():
        return [
            (int(r.vocab_ver), int(r.step), r.left, r.right,
             None if r.ratio_milli is None else int(r.ratio_milli))
            for r in state.collect()
        ]

    return _embedded_cached("bpe_vocab", vocab_path, version, collect_all)


def read_bpe_vocab(spark, vocab_path: str, vocab_ver: int | None = None):
    """(vocab_ver, merges, ratio_milli) for the requested (default:
    newest) vocabulary version in the standing vocab table, or
    (None, None, None) before any install. Every version's rows live in
    the table forever (step ≥ 1 = rank-ordered merges; the step = 0 row
    carries the training-time corpus compression-ratio snapshot the
    trigger compares against), so old encodings' vocabularies stay
    readable without store time travel. The whole table is ≤ versions ×
    merges rows — collected once per committed version and memoized
    (the ``read_ivf_index`` cache)."""
    version = table_store.current_version(vocab_path)
    if version is None:
        return None, None, None
    rows = _bpe_vocab_rows(spark, vocab_path, version)
    if vocab_ver is None:
        vocab_ver = max((r[0] for r in rows), default=None)
    if vocab_ver is None:
        return None, None, None
    mine = [r for r in rows if r[0] == vocab_ver]
    if not mine:
        raise ValueError(
            f"vocab_ver {vocab_ver} not present at {vocab_path} "
            f"(have: {sorted({r[0] for r in rows})})"
        )
    merges = [
        (r[2], r[3]) for r in sorted(mine) if r[1] >= 1
    ]
    ratio = next((r[4] for r in mine if r[1] == 0), None)
    return vocab_ver, merges, ratio


def install_bpe_vocab(
    spark,
    vocab_path: str,
    merges: list[tuple[str, str]],
    vocab_ver: int,
    ratio_milli: int,
    attempts: int = 5,
    props: dict | None = None,
) -> None:
    """Append one vocabulary version to the standing vocab table via the
    CAS commit (old versions are immutable history — the encodings
    table's vocab_ver column points into them). Replay-idempotent: a
    re-run that finds its vocab_ver already installed WITH THE SAME
    rows skips (the crash-between-install-and-checkpoint case). A
    vocab_ver collision with DIFFERENT content raises instead of
    silently dropping the new vocabulary (ADVICE r11, low: a silent
    skip would lose a refresh and leave the drift trigger retraining
    on every subsequent batch) — colliding writers must pick a fresh
    version (``ingest_bpe_step`` installs at
    max(batch_id, newest existing + 1) for exactly this reason)."""
    rows = [(vocab_ver, 0, None, None, ratio_milli)] + [
        (vocab_ver, i + 1, left, right, None)
        for i, (left, right) in enumerate(merges)
    ]
    incoming = spark.createDataFrame(rows, BPE_VOCAB_SCHEMA)
    for attempt in range(attempts):
        base = table_store.current_version(vocab_path)
        if base is None:
            state = incoming
        else:
            stored = _bpe_vocab_rows(spark, vocab_path, base)
            mine = sorted(r for r in stored if r[0] == vocab_ver)
            if mine:
                if mine == sorted(rows):
                    return  # replayed install — already committed
                raise ValueError(
                    f"vocab_ver {vocab_ver} is already installed at "
                    f"{vocab_path} with a DIFFERENT merge table/snapshot; "
                    "refusing to silently drop the new vocabulary — "
                    "install under a fresh version (max existing + 1)"
                )
            state = table_store.read_state(
                spark, vocab_path, version=base
            ).unionByName(incoming)
        try:
            table_store.commit(
                state, vocab_path, expected_version=base, props=props
            )
            return
        except table_store.ConcurrentCommitError:
            if attempt == attempts - 1:
                raise
            continue


def _bpe_ratio_milli(enc: DataFrame) -> int | None:
    """floor(Σ tokens_after · 1000 / Σ tokens_before) over an encoded
    frame — the corpus/batch compression ratio in milli. None when the
    frame carries no tokens (nothing to measure)."""
    r = enc.agg(
        F.sum("tokens_before").alias("b"), F.sum("tokens_after").alias("a")
    ).collect()[0]
    if not r.b:
        return None
    return int(r.a) * 1000 // int(r.b)


def ingest_bpe_step(
    spark,
    batch_docs: DataFrame,
    vocab_path: str,
    enc_path: str,
    batch_id: int,
    corpus_provider: Callable[[SparkSession], DataFrame] | None = None,
    margin_milli: int = BPE_REFRESH_MARGIN_MILLI,
    buckets: int | None = None,
    report: dict | None = None,
    props: dict | None = None,
) -> bool:
    """ONE ingest step of the tokenize-on-ingest loop with the vocab
    measure→act policy. Per batch:

    1. encode under the CURRENT standing vocabulary
       (``textops.bpe_encode_vocab`` with the memoized merge table —
       map-only, O(1)-in-vocabulary kernel) and merge (doc_id,
       tokens_before, tokens_after, vocab_ver) into the encodings
       table; the recorded vocab_ver is the row's contract — it stays
       valid under that version forever;
    2. measure: the batch's compression ratio vs the vocab's
       training-time snapshot — drifted text the merges don't cover
       stays un-merged, pushing the ratio toward 1.0 (the OOV/byte-
       fallback analog);
    3. act: past ``margin_milli``, retrain on the ACCUMULATED as-ingested
       corpus (``corpus_provider`` — the lake's document table, exactly
       like ``refresh_quality_model``; the trainer is ``textops.
       bpe_train``'s one-job collect + in-process merge loop), snapshot
       the new vocab's corpus ratio, and install it as version
       ``max(batch_id, newest existing + 1)`` (collision-free with the
       day-0 install even when batch ids restart at 0 — ADVICE r11) —
       one CAS append; FUTURE batches encode under it, PAST encodings
       are not touched (re-encode-only-new, the 100 TB contract).

    Returns whether a refresh ran. Replay: the encode+merge is keyed by
    batch_id; a replay BEFORE its refresh landed re-derives the same
    rows and re-fires (``install_bpe_vocab`` skips an already-installed
    vocab_ver), and a replay AFTER re-encodes the batch under the
    refreshed vocab — replacing its earlier attempt per the
    incoming-wins-at-equal-version merge rule — whose coverage of the
    drift self-heals the trigger into the skip path (the exact
    ``ingest_ivf_step``-across-codebook-refresh contract; rows are
    always bit-valid under their recorded vocab_ver either way,
    pytest-pinned). A vocabulary must be installed before the first
    batch (day-0 train + ``install_bpe_vocab``).

    ``report`` (round 12): when passed, records what the policy saw —
    {"vocab_ver_used", "batch_ratio_milli", "snapshot_ratio_milli",
    "fired", "installed_vocab_ver"} — the refresh-policy
    observability hook shared with the quality/IVF twins."""
    from realtime_datawarehouse_spark.operators import textops

    vocab_ver, merges, snap_ratio = read_bpe_vocab(spark, vocab_path)
    if vocab_ver is None:
        raise ValueError(
            f"no vocabulary installed at {vocab_path}; day-0 install via "
            "install_bpe_vocab(bpe_train(corpus), ...) first"
        )
    enc = textops.bpe_encode_vocab(batch_docs, merges=merges).persist()
    try:
        table_store.merge_upsert(
            spark,
            enc.withColumn(
                "vocab_ver", F.lit(vocab_ver).cast("long")
            ).withColumn("ver", F.lit(batch_id).cast("long")),
            enc_path,
            pk="doc_id",
            version_col="ver",
            buckets=buckets,
            props=props,
        )
        batch_ratio = _bpe_ratio_milli(enc)
    finally:
        enc.unpersist()
    drift_exceeded = (
        batch_ratio is not None
        and snap_ratio is not None
        and batch_ratio > snap_ratio + margin_milli
    )
    # MEASURE vs ACT are reported separately (code-review r12): a
    # deployment without a corpus_provider still needs the ops surface
    # to show the vocabulary drifting, even though nothing can act
    fired = drift_exceeded and corpus_provider is not None
    if report is not None:
        report["vocab_ver_used"] = vocab_ver
        report["batch_ratio_milli"] = batch_ratio
        report["snapshot_ratio_milli"] = snap_ratio
        report["drift_exceeded"] = drift_exceeded
        report["fired"] = fired
        report["installed_vocab_ver"] = None
    if not fired:
        return False
    corpus = corpus_provider(spark)
    new_merges = [
        (r.left, r.right)
        for r in textops.bpe_train(corpus, n_merges=len(merges))
        .orderBy("step")
        .collect()
    ]
    new_ratio = _bpe_ratio_milli(
        textops.bpe_encode_vocab(corpus, merges=new_merges)
    )
    # max(batch_id, newest existing + 1), NOT batch_id alone (ADVICE
    # r11, low): foreachBatch ids start at 0 and the day-0 convention
    # installs vocab_ver=0, so a batch-0 trigger would collide and the
    # install's replay check would silently drop the refreshed vocab
    # (leaving the drift trigger retraining every batch). The floor at
    # newest+1 keeps the install collision-free; keeping batch_id when
    # it is higher keeps the version state-derived, so a crash replay
    # of the trigger batch re-derives the SAME target version and the
    # install's identical-rows check absorbs it (idempotent).
    target_ver = max(batch_id, vocab_ver + 1)
    while True:
        try:
            install_bpe_vocab(
                spark, vocab_path, new_merges,
                vocab_ver=target_ver,
                ratio_milli=new_ratio,
                props=props,
            )
            break
        except ValueError:
            # content collision: a CONCURRENT writer (different corpus
            # view) already installed different content at this version
            # — bump past the new head and retry (code-review r12: the
            # raise alone made the race non-convergent; a replay of
            # THIS writer re-derives identical content and still takes
            # the silent skip path, so idempotence is unchanged). The
            # head strictly grows on every collision, so this
            # terminates.
            newest, _, _ = read_bpe_vocab(spark, vocab_path)
            target_ver = max(target_ver, (newest or 0)) + 1
    if report is not None:
        report["installed_vocab_ver"] = target_ver
    return True


def bpe_corpus_pipeline(
    doc_stream: DataFrame,
    vocab_path: str,
    enc_path: str,
    corpus_provider: Callable[[SparkSession], DataFrame] | None = None,
    margin_milli: int = BPE_REFRESH_MARGIN_MILLI,
    buckets: int | None = None,
):
    """The tokenize-on-ingest loop as a ``foreachBatch`` stream: every
    micro-batch of (doc_id, text) runs :func:`ingest_bpe_step` — encode
    under the standing vocab, merge the encodings, and retrain/install
    on drift. Returns a writeStream builder (caller sets checkpoint/
    trigger and ``.start()``); replay semantics are the step's."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        ingest_bpe_step(
            batch_df.sparkSession,
            batch_df,
            vocab_path,
            enc_path,
            batch_id,
            corpus_provider=corpus_provider,
            margin_milli=margin_milli,
            buckets=buckets,
        )

    return doc_stream.writeStream.foreachBatch(process_batch)


def production_ingest_step(
    spark,
    batch: DataFrame,
    centroids: DataFrame,
    sig_path: str,
    flags_path: str,
    comp_path: str,
    index_path: str,
    batch_id: int,
    quality_path: str | None = None,
    quality_weights: DataFrame | None = None,
    compact_every: int | None = None,
    compact_target_files: int = 8,
    ivf_refresh_every: int | None = None,
    ivf_max_balance6: int = IVF_MAX_BALANCE6_DEFAULT,
    quality_refresh_every: int | None = None,
    quality_max_psi6: int = QUALITY_PSI_MAX6_DEFAULT,
    quality_corpus_provider: Callable[[SparkSession], DataFrame]
    | None = None,
    quality_refresh_weights_provider: Callable[[SparkSession], DataFrame]
    | None = None,
    ivf_refresh_centroids_provider: Callable[[SparkSession], DataFrame]
    | None = None,
    bpe_vocab_path: str | None = None,
    bpe_enc_path: str | None = None,
    bpe_corpus_provider: Callable[[SparkSession], DataFrame] | None = None,
    bpe_margin_milli: int = BPE_REFRESH_MARGIN_MILLI,
    buckets: int | None = None,
    report: dict | None = None,
) -> None:
    """ONE step of the COMPOSED production corpus-ingest loop (VERDICT r8
    item 5): dup flags, component→split maintenance, and IVF index
    upkeep — the three standing-artifact loops — over ONE micro-batch
    with SHARED intermediates, the way a real corpus pipeline runs them
    (three separate streams would shingle/minhash the same batch three
    times and read the corpus signature table twice).

    ``batch``: (doc_id long, text string, embedding array<float>,
    embedding nullable — docs without vectors still dedup/split).

    PER-BATCH COST (the no-duplicate-scan accounting):
    - ``minhash_signatures`` — the only shingle/minhash pass — runs ONCE,
      persisted, and feeds all three signature consumers: the dup flags
      (``incremental_flags_from_signatures``, the signatures-in entry
      point added for this loop), the split maintenance, and the
      signature-table merge.
    - the corpus signature table is read ONCE and shared by flags + split
      maintenance (both only stream it map-side against broadcast batch
      bands).
    - the embedding half never touches text: ``ivf_assign`` is
      O(|batch| × k) against the broadcast frozen codebook, merged into
      the inverted-list table; no corpus touch at all.
    - ``quality_path`` (round-9 second wave) adds the curation stack's
      SCORING stage to the loop: each batch is scored through
      ``textops.quality_classifier`` (broadcast ≤dim-row weight table —
      ``quality_weights`` loads a trained model, None uses the
      deterministic stand-in) and the (doc_id, margin_milli, keep) rows
      merge into a fifth standing table. Map-only + one batch-rate
      token explode; no corpus touch; the real pipeline's
      score-then-dedup ordering without changing any other artifact's
      semantics (scoring filters downstream CONSUMERS, not the standing
      tables — dropping low-quality docs from dedup would silently
      change the component invariant).
    Total standing-table I/O per batch: one corpus-signature read, four
    (five with quality) bounded merges — vs six
    reads/merges-plus-three-shingle-passes for the three loops run
    separately.

    BUCKETED MERGES (round 10): ``buckets=N`` stores every standing
    table hive-partitioned by pmod(hash(pk), N), so each micro-batch
    merge rewrites ONLY the buckets its batch touches and hardlinks the
    rest forward — per-batch merge cost drops from O(|table|) to
    O(touched buckets + batch), the SCALE.md §20 rule, which is the
    difference between a loop that survives 100 TB standing tables and
    one that rewrites them five times per micro-batch. Semantics are
    pinned identical to the flat layout (bucket-local last-write-wins;
    parity test over the whole loop). Size N via
    ``table_store.auto_buckets(expected_rows)``.

    COMPACTION CADENCE (round 10, VERDICT r9 item 4): every merge
    writes a shuffle's worth of small files into the new snapshot, so
    over a long ingest history scan cost and listing pressure grow with
    file COUNT even though GC bounds the version count. ``compact_every
    = N`` runs ``table_store.compact`` on each standing table after
    every Nth batch — an ordinary optimistic commit (readers never
    blocked; a racing writer wins and the compaction simply retries at
    the next cadence point, so a lost cycle costs nothing but files).
    The index table clusters on ``centroid_id`` (disjoint file ranges →
    probe-time reads prune whole files — the ivf layout note realized),
    the doc-keyed tables on ``doc_id``. Replays stay idempotent across
    a compaction boundary: compaction is pure re-layout, and a replayed
    merge re-derives the same rows whatever the file layout
    (pytest-pinned). Measured bounded-file-count across a 20-ingest
    history in SCALE.md §35.

    MODEL REFRESH POLICIES (rounds 10–11): ``ivf_refresh_every`` +
    ``ivf_max_balance6`` retrain/swap the IVF codebook when list
    imbalance crosses the threshold; ``quality_refresh_every`` +
    ``quality_max_psi6`` + ``quality_corpus_provider`` retrain/swap the
    quality-classifier model when the standing score distribution's PSI
    vs the embedded training-time snapshot crosses the alert level
    (:func:`quality_refresh_if_needed`). Both audits are a few-row
    rollup per cadence point; both refreshes are bounded
    compaction-class batch jobs whose swap is one conditional commit.
    ``quality_refresh_weights_provider`` / ``ivf_refresh_centroids_
    provider`` (round 12) inject the retrained artifact instead of the
    default trainers (GD classifier / Lloyd's k-means) — the
    bring-your-own-trainer knob a deployment retraining out-of-band
    (GPU cluster, different framework) plugs its export into; the
    registered v3 eval injects deterministic arithmetic-rule artifacts
    through them so the WHOLE fired-refresh path is oracle-exact.

    BPE TOKENIZE-ON-INGEST (round 12, VERDICT r11 item 1): pass
    ``bpe_vocab_path`` + ``bpe_enc_path`` and the step drives the
    encodings + vocabulary tables as its 6th/7th standing artifacts —
    :func:`ingest_bpe_step` over the SAME ``docs`` projection the
    quality/signature stages consume, so one micro-batch read feeds all
    three measure→act loops (quality-PSI, vocab-ratio, IVF-imbalance)
    instead of a sibling stream re-reading the corpus
    (``bpe_corpus_pipeline`` remains for deployments that want the
    tokenizer loop isolated). The vocab-ratio trigger fires per batch
    (a ratio read is one map-combined sum over rows the encode pass
    already computed — no cadence needed); retrain reads
    ``bpe_corpus_provider`` (the lake, like the quality provider) and
    installs at max(batch_id, newest+1); past encodings stay valid
    under their recorded vocab_ver (re-encode-only-new — the 100 TB
    contract). A vocabulary must be installed at ``bpe_vocab_path``
    before the first batch (day-0 ``bpe_train`` + ``install_bpe_
    vocab``). The encodings table joins the compaction cadence
    (clustered on doc_id); the vocab table never compacts — it is
    bounded (versions × merges) and every install rewrites it whole.

    ``report`` (round 12): pass a dict and the step fills per-policy
    sub-reports — ``report["quality"]`` ({"psi6", "fired"}, present
    only at a quality cadence point), ``report["ivf"]``
    ({"imbalance6", "fired"}, at an IVF cadence point), and
    ``report["bpe"]`` ({"vocab_ver_used", "batch_ratio_milli",
    "snapshot_ratio_milli", "fired", "installed_vocab_ver"}, every
    batch the BPE tables are enabled). This is the loop's ops
    surface — what each measure→act policy SAW and DECIDED this step —
    and the registered v3 eval's oracle pins these exact values.

    END-STATE CONTRACT (driver-checked): after replaying a corpus
    through this step, flags ≡ the staged incremental-flags batch
    characterization (``dedup.staged_incremental_flags_oracle``), the
    component→split rollup ≡ ``mix_cluster_aware_split_neardup``'s
    oracle, and IVF serve ≡ ``ann_ivf_topk``'s oracle — all three pinned
    in ONE hash-checked registration (``pipeline_production_ingest_eval``).
    Shared with the streaming builder below so replays/evals and the
    stream can never diverge (the ``ingest_split_step`` pattern)."""
    from realtime_datawarehouse_spark.operators import dedup, textops

    if (bpe_vocab_path is None) != (bpe_enc_path is None):
        # loud failure BEFORE any table write, matching
        # install_bpe_vocab's convention (ADVICE r12): a half-configured
        # tokenizer loop would otherwise be indistinguishable from a
        # disabled one — no encodings written, no report['bpe'], no error
        raise ValueError(
            "production_ingest_step: bpe_vocab_path and bpe_enc_path must "
            "be provided together (got exactly one) — pass both to enable "
            "the tokenizer loop or neither to disable it"
        )
    # cross-table consistency manifest (round 12, VERDICT r11 item 2):
    # every standing-table write this step makes carries the batch id as
    # a commit property, so a reader can pick, per table, the newest
    # version applied at or before a common frontier (consistent_snapshot)
    # instead of observing table A at batch n beside table B at n-1
    manifest = {"applied_batch": batch_id}
    docs = batch.select("doc_id", "text")
    if quality_path is not None:
        # embedded-model-first scoring + merge (shared with the refresh
        # eval); a model a refresh installed overrides quality_weights
        ingest_quality_step(
            spark,
            docs,
            quality_path,
            batch_id,
            weights=quality_weights,
            buckets=buckets,
            props=manifest,
        )
        if (
            quality_refresh_every is not None
            and quality_corpus_provider is not None
            and batch_id > 0
            and batch_id % quality_refresh_every == 0
        ):
            # measure→act: one 10-key histogram audit per cadence point;
            # the retrain+rescore+swap only runs when the standing score
            # distribution has drifted past the PSI threshold from the
            # embedded training-time snapshot (no-op until a model is
            # installed — there is no snapshot to drift from)
            quality_refresh_if_needed(
                spark,
                quality_path,
                quality_corpus_provider(spark),
                refresh_id=batch_id,
                max_psi6=quality_max_psi6,
                new_weights=(
                    quality_refresh_weights_provider(spark)
                    if quality_refresh_weights_provider is not None
                    else None
                ),
                report=(
                    report.setdefault("quality", {})
                    if report is not None
                    else None
                ),
                props=manifest,
            )
    corpus_sig = table_store.read_state(spark, sig_path)
    corpus_sig = corpus_sig.drop("ver") if corpus_sig is not None else None
    batch_sig = dedup.minhash_signatures(docs).persist()
    try:
        if corpus_sig is not None:
            flags = dedup.incremental_flags_from_signatures(
                batch_sig, corpus_sig
            )
            table_store.merge_upsert(
                spark,
                flags.withColumn("batch_id", F.lit(batch_id)).withColumn(
                    "ver", F.lit(batch_id)
                ),
                flags_path,
                pk="doc_id",
                version_col="ver",
                buckets=buckets,
                props=manifest,
            )
        _maintain_split_components(
            spark, batch_sig, corpus_sig, comp_path, batch_id,
            buckets=buckets, props=manifest,
        )
        table_store.merge_upsert(
            spark,
            batch_sig.withColumn("ver", F.lit(batch_id)),
            sig_path,
            pk="doc_id",
            version_col="ver",
            buckets=buckets,
            props=manifest,
        )
    finally:
        batch_sig.unpersist()
    if "embedding" in batch.columns:
        emb = batch.where(F.col("embedding").isNotNull()).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        )
        ingest_ivf_step(
            spark, emb, centroids, index_path, batch_id, buckets=buckets,
            props=manifest,
        )
        if (
            ivf_refresh_every is not None
            and batch_id > 0
            and batch_id % ivf_refresh_every == 0
        ):
            # measure→act maintenance cadence: the imbalance check is a
            # ≤k-row rollup; the refresh only runs when the worst list
            # exceeds its even share by the threshold factor, so a
            # well-balanced loop pays one cheap audit per cadence point
            ivf_refresh_if_needed(
                spark,
                index_path,
                refresh_id=batch_id,
                max_balance6=ivf_max_balance6,
                new_centroids=(
                    ivf_refresh_centroids_provider(spark)
                    if ivf_refresh_centroids_provider is not None
                    else None
                ),
                report=(
                    report.setdefault("ivf", {})
                    if report is not None
                    else None
                ),
                props=manifest,
            )
    if bpe_vocab_path is not None and bpe_enc_path is not None:
        # 6th/7th standing tables (round 12): tokenize the SAME docs
        # projection under the standing vocabulary, merge the
        # encodings, and retrain/install on compression-ratio drift —
        # the per-batch measure rides the encode pass itself
        ingest_bpe_step(
            spark,
            docs,
            bpe_vocab_path,
            bpe_enc_path,
            batch_id,
            corpus_provider=bpe_corpus_provider,
            margin_milli=bpe_margin_milli,
            buckets=buckets,
            report=(
                report.setdefault("bpe", {})
                if report is not None
                else None
            ),
            props=manifest,
        )
    if (
        compact_every is not None
        and batch_id > 0
        and batch_id % compact_every == 0
    ):
        for p, cluster in (
            (sig_path, "doc_id"),
            (flags_path, "doc_id"),
            (comp_path, "doc_id"),
            (index_path, "centroid_id"),
            (quality_path, "doc_id"),
            (bpe_enc_path, "doc_id"),
        ):
            if p is None or table_store.current_version(p) is None:
                continue
            # gate on the TABLE's persisted layout, not this call's
            # ``buckets`` argument (ADVICE r10): a bucketed table bounds
            # files per bucket already, and compacting it would
            # re-flatten the layout and force a full re-bucket rewrite
            # on the next merge — exactly the cost the skip avoids. A
            # run passing buckets=None over tables created bucketed
            # (merges stay bucketed per the spec) must skip them too.
            if table_store.bucket_spec_of(p) is not None:
                continue
            try:
                # retain=3, not the store default 2 (ADVICE r12): this
                # compaction is a SECOND commit of the same batch, so
                # retain=2 would evict the previous batch's version — the
                # frontier snapshot a concurrent consistent reader may
                # have just picked — the same eviction class the model
                # refreshes already guard (refresh_quality_model /
                # refresh_ivf_index).
                table_store.compact(
                    spark,
                    p,
                    compact_target_files,
                    cluster_col=cluster,
                    retain=3,
                )
            except table_store.ConcurrentCommitError:
                # a concurrent writer won the race — files stay small
                # until the next cadence point; nothing is lost
                pass


def production_corpus_pipeline(
    doc_stream: DataFrame,
    centroids: DataFrame,
    sig_path: str,
    flags_path: str,
    comp_path: str,
    index_path: str,
    quality_path: str | None = None,
    quality_weights: DataFrame | None = None,
    compact_every: int | None = None,
    compact_target_files: int = 8,
    ivf_refresh_every: int | None = None,
    ivf_max_balance6: int = IVF_MAX_BALANCE6_DEFAULT,
    quality_refresh_every: int | None = None,
    quality_max_psi6: int = QUALITY_PSI_MAX6_DEFAULT,
    quality_corpus_provider: Callable[[SparkSession], DataFrame]
    | None = None,
    quality_refresh_weights_provider: Callable[[SparkSession], DataFrame]
    | None = None,
    ivf_refresh_centroids_provider: Callable[[SparkSession], DataFrame]
    | None = None,
    bpe_vocab_path: str | None = None,
    bpe_enc_path: str | None = None,
    bpe_corpus_provider: Callable[[SparkSession], DataFrame] | None = None,
    bpe_margin_milli: int = BPE_REFRESH_MARGIN_MILLI,
    buckets: int | None = None,
):
    """The three standing ingest loops as ONE ``foreachBatch`` stream
    (VERDICT r8 item 5): every micro-batch of (doc_id, text, embedding)
    runs :func:`production_ingest_step` — one shared signature pass, one
    corpus-signature read, four bounded merges. Returns a writeStream
    builder: caller sets checkpoint/trigger and ``.start()``. Replay
    after a crash re-runs the step with the same batch_id; every write
    inside is a versioned ``merge_upsert`` keyed by that id, so the loop
    stays exactly-once end-to-end like its three components.
    ``compact_every=N`` adds the small-files maintenance cadence (see
    the step's docstring) — replay across a compaction boundary is
    still idempotent. The measure→act maintenance knobs the step
    supports are plumbed 1:1 (ADVICE r10: the streaming builder could
    not enable the refresh policies): ``ivf_refresh_every`` /
    ``ivf_max_balance6`` / ``ivf_refresh_centroids_provider`` for the
    codebook, ``quality_refresh_every`` / ``quality_max_psi6`` /
    ``quality_corpus_provider`` / ``quality_refresh_weights_provider``
    for the classifier model, and ``bpe_vocab_path`` /
    ``bpe_enc_path`` / ``bpe_corpus_provider`` / ``bpe_margin_milli``
    for the round-12 tokenize-on-ingest tables (6th/7th standing
    artifacts riding the same micro-batch read)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        production_ingest_step(
            batch_df.sparkSession,
            batch_df,
            centroids,
            sig_path,
            flags_path,
            comp_path,
            index_path,
            batch_id,
            quality_path=quality_path,
            quality_weights=quality_weights,
            compact_every=compact_every,
            compact_target_files=compact_target_files,
            ivf_refresh_every=ivf_refresh_every,
            ivf_max_balance6=ivf_max_balance6,
            quality_refresh_every=quality_refresh_every,
            quality_max_psi6=quality_max_psi6,
            quality_corpus_provider=quality_corpus_provider,
            quality_refresh_weights_provider=(
                quality_refresh_weights_provider
            ),
            ivf_refresh_centroids_provider=ivf_refresh_centroids_provider,
            bpe_vocab_path=bpe_vocab_path,
            bpe_enc_path=bpe_enc_path,
            bpe_corpus_provider=bpe_corpus_provider,
            bpe_margin_milli=bpe_margin_milli,
            buckets=buckets,
        )

    return doc_stream.writeStream.foreachBatch(process_batch)


def loop_lag_report(paths: dict[str, str]) -> list[tuple]:
    """(table, head_version, applied_batch) per standing table — the
    composed loop's cross-table staleness audit (round 12, VERDICT r11
    item 2). ``applied_batch`` is None for a table not yet created or
    whose head commit predates the manifest channel. Pure metadata
    reads (one head probe + one small JSON per table), no Spark jobs —
    cheap enough for an ops endpoint to poll between batches."""
    out = []
    for name, p in paths.items():
        v = table_store.current_version(p)
        pr = table_store.version_props(p, v) if v is not None else None
        out.append(
            (name, v, pr.get("applied_batch") if pr else None)
        )
    return out


def consistent_snapshot(
    paths: dict[str, str],
) -> tuple[int | None, dict[str, str | None]]:
    """(frontier, {table: version}) — the newest CROSS-TABLE-CONSISTENT
    read point of the composed loop's standing tables (round 12,
    VERDICT r11 item 2): each table commits independently, so mid-step
    (or after a crash between tables) a naive reader can see table A at
    batch n beside table B at n−1. The frontier is the largest batch id
    applied by EVERY manifested table (= min over head applied_batch);
    each table's snapshot is its newest retained version whose
    applied_batch ≤ frontier, found by scanning version history props
    newest→oldest. Tables whose head carries no manifest are excluded
    from the frontier and map to None (read them at whatever policy the
    caller prefers — they are outside the loop's consistency domain).

    RETENTION CONTRACT: the loop writes tables in a fixed order within
    one step, so the cross-table skew is at most ONE batch — the
    frontier version is always the head or its immediate predecessor,
    within the store's default ``retain=2`` window. One wrinkle
    (code-review r12): a FIRED model refresh is a second commit of its
    batch, which under retain=2 would evict the previous batch's
    version mid-step — so ``refresh_quality_model`` /
    ``refresh_ivf_index`` commit with retain=3 (pytest-pinned by
    test_consistent_read_survives_fired_refresh_double_commit).
    Readers that poll between batches therefore never miss the
    frontier snapshot; raise ``retain`` if a deployment layers slower
    external readers on top.

    DOMAIN: pass the loop's PER-BATCH standing tables
    (sigs/flags/comps/index/quality/encodings). The vocab table is
    deliberately OUTSIDE the frontier domain — it commits only when a
    refresh fires, so its head applied_batch lags by design and would
    pin the frontier at the last install; its history is versioned by
    vocab_ver and every encodings row names the exact version that
    produced it, which is already a stronger consistency contract.

    A table CREATED after the frontier batch (e.g. the flags table,
    first written at batch 1 because batch 0 has no corpus to flag
    against) maps to None at frontier 0 — correctly "this table did
    not exist at the frontier", not an error."""
    heads = loop_lag_report(paths)
    head_applied = {name: a for (name, _, a) in heads}
    applied = [a for a in head_applied.values() if a is not None]
    frontier = min(applied) if applied else None
    picks: dict[str, str | None] = {}
    for name, p in paths.items():
        pick = None
        # a table whose HEAD carries no manifest is OUTSIDE the
        # consistency domain and maps to None as documented — scanning
        # its history anyway would silently serve a stale manifested
        # version as "consistent" (code-review r12)
        if frontier is not None and head_applied.get(name) is not None:
            for v in reversed(table_store.list_versions(p)):
                pr = table_store.version_props(p, v)
                a = pr.get("applied_batch") if pr else None
                if a is not None and a <= frontier:
                    pick = v
                    break
        picks[name] = pick
    return frontier, picks


def read_consistent_state(
    spark, paths: dict[str, str]
) -> tuple[int | None, dict[str, DataFrame | None]]:
    """(frontier, {table: DataFrame}) — :func:`consistent_snapshot`
    materialized: every returned DataFrame reads its table's frontier
    version (time-travel read of a retained snapshot), so a consumer
    joining across the standing tables sees ONE batch boundary, never a
    mixed frontier. None entries = table absent at the frontier."""
    frontier, picks = consistent_snapshot(paths)
    out: dict[str, DataFrame | None] = {}
    for name, p in paths.items():
        v = picks[name]
        out[name] = (
            table_store.read_state(spark, p, version=v)
            if v is not None
            else None
        )
    return frontier, out


def streaming_corpus_ingest(
    raw: DataFrame, dedup_watermark: str = "26 hours"
) -> DataFrame:
    """Streaming corpus curation: the LLM-pipeline quality → exact-dedup
    flow as a continuous ingestion job (the streaming composition of
    ``plans/llm_ops.pipeline_corpus_curation``).

    ``raw``: (value: string) JSON lines {"doc_id", "text", "event_time"}.
    Stages: tolerant parse (dirty lines dropped like K6's side output) →
    quality keep-filter (operators/textops thresholds) → exact dedup on the
    content hash via ``dropDuplicatesWithinWatermark`` — the first arrival
    of each distinct text wins, duplicate state is evicted once the
    watermark passes (a crawler re-fetching the same page days later is a
    NEW document by design; persistent-history dedup belongs to the batch
    compaction pass, exactly like the reference's DWD/DWS split).

    Scale: every stage is per-row narrow except the dedup (one shuffle on
    content hash, state = one row per distinct text within the watermark
    horizon).
    """
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from realtime_datawarehouse_spark.operators import textops

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("event_time", TimestampType()),
        ]
    )
    parsed = raw.select(
        F.from_json(F.col("value"), schema).alias("d")
    ).select("d.*")
    clean = parsed.where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    kept = clean.where(textops.quality_keep("text") == 1).select(
        "doc_id", "text", "event_time", F.md5("text").alias("content_hash")
    )
    return kept.withWatermark(
        "event_time", dedup_watermark
    ).dropDuplicatesWithinWatermark(["content_hash"])


# --- SURVEY §3.4 left column as ONE running set of chained queries --------
#
# topic_log ─ DwdTrafficBaseLogSplit ─ dwd_traffic_page_log ─ UniqueVisitor
# Detail ─ uv boundary ─ DwsTrafficVcChArIsNew-style channel window.
#
# Each arrow is a separate streaming query writing an append storage
# boundary (parquet directory ≡ an append Kafka topic; the file-sink
# metadata log gives downstream exactly-once listing). The UV boundary
# carries one row per (mid, visit day) — the upsert-free append contract of
# the reference's dwd_traffic_unique_visitor_detail topic.

def dwd_unique_visitor_detail(page: DataFrame) -> DataFrame:
    """DwdTrafficUniqueVisitorDetail (rt/app/dwd/log/…UniqueVisitorDetail
    .java:30-70): session-entry pages only (last_page_id null), then the
    first page view per (mid, day) survives.

    Spark form: ``dropDuplicatesWithinWatermark`` on (mid, visit_date) with
    a ≥24 h delay — exact daily dedup with state evicted one day after the
    day closes (the reference's 1-day state TTL, W7). Emits in arrival
    order within a day, which equals min-ts order for time-ordered sources
    (jobs.first_per_user_day contract note).
    """
    entry = page.where(F.col("page.last_page_id").isNull())
    uv = entry.select(
        F.col("common.mid").alias("mid"),
        F.col("common.vc").alias("vc"),
        F.col("common.ch").alias("ch"),
        F.col("common.ar").alias("ar"),
        F.col("common.is_new").alias("is_new"),
        F.timestamp_millis(F.col("ts")).alias("event_time"),
        F.to_date(F.timestamp_millis(F.col("ts"))).alias("visit_date"),
    )
    return uv.withWatermark(
        "event_time", jobs.DAY_TTL_WATERMARK
    ).dropDuplicatesWithinWatermark(["mid", "visit_date"])


def dws_traffic_channel_window(
    uv: DataFrame,
    window: str = "10 seconds",
    watermark: str = jobs.DEFAULT_WATERMARK,
) -> DataFrame:
    """DwsTrafficVcChArIsNewPageViewWindow (rt/app/dws/…VcChArIsNew…java:
    40-100) over the UV boundary: tumbling UV count per (vc, ch, ar,
    is_new) dimension combination. Append output — a window row emits once
    the watermark closes it."""
    return (
        uv.withWatermark("event_time", watermark)
        .groupBy(
            F.window("event_time", window), "vc", "ch", "ar", "is_new"
        )
        .agg(F.count("*").alias("uv_ct"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "vc",
            "ch",
            "ar",
            "is_new",
            "uv_ct",
        )
    )


def _boundary(
    df: DataFrame, work_dir: str, name: str, n: int, in_order: bool = False
):
    """One append storage boundary of a §3.4 column: start the query that
    writes ``df`` to ``{work_dir}/<name>`` (checkpoint ``{work_dir}/ck<n>``)
    and return it with the downstream stream over that directory, read
    with ``df``'s own schema.

    By default each downstream trigger reads every committed file (the
    file source lists the sink's ``_spark_metadata`` log), so upstream
    batches arrive whole. A windowed consumer needs that: a stateful hop
    writes one file per state partition, each spanning the batch's event
    time, and reading one file first would move the window watermark past
    rows still unread, dropping them as late.

    ``in_order`` is for a consumer that keeps the first arrival per key
    (``dropDuplicatesWithinWatermark``). A multi-file trigger scans its
    files largest first, not in commit order, so a later batch's re-entry
    could be kept over the earlier first visit. Such a boundary is written
    one file per batch and read one file per trigger: each trigger is then
    exactly one upstream batch, whole and in commit order."""
    path = os.path.join(work_dir, name)
    q = (
        (df.coalesce(1) if in_order else df)
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", os.path.join(work_dir, f"ck{n}"))
        .outputMode("append")
        .start()
    )
    reader = df.sparkSession.readStream.schema(df.schema)
    if in_order:
        reader = reader.option("maxFilesPerTrigger", 1)
    return q, reader.parquet(path)


def _merge_sink(
    df: DataFrame, work_dir: str, store_path: str, pk: str, mode: str
):
    """The last hop of a §3.4 column (checkpoint ``{work_dir}/ck3``): each
    micro-batch MERGEs into the versioned table store at ``store_path``
    (``table_store.merge_upsert``) keyed by column ``pk``; the batch id is
    the row version, so per key the row of the latest batch wins.

    An empty batch (an append-mode window that has not closed yet) commits
    nothing: a MERGE of no rows would only write an unchanged version and
    push a real one out of the store's retention window. Until the first
    non-empty batch the store does not exist and ``read_state`` returns
    None. The batch is persisted for the emptiness check, so its stateful
    plan runs once."""

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            table_store.merge_upsert(
                batch_df.sparkSession,
                batch_df.withColumn("ver", F.lit(batch_id)),
                store_path,
                pk=pk,
                version_col="ver",
            )
        finally:
            batch_df.unpersist()

    return (
        df.writeStream.outputMode(mode)
        .foreachBatch(upsert_batch)
        .option("checkpointLocation", os.path.join(work_dir, "ck3"))
        .start()
    )


def traffic_stream_graph(
    raw: DataFrame,
    work_dir: str,
    store_path: str | None = None,
) -> list:
    """The §3.4 traffic dataflow as one running set of THREE chained
    streaming queries over shared storage boundaries:

      raw (topic_log) ── q1: dwd_log_split → page branch
        → ``{work_dir}/dwd_traffic_page_log``   (append boundary)
      boundary ── q2: dwd_unique_visitor_detail
        → ``{work_dir}/dwd_traffic_uv``         (append boundary)
      boundary ── q3: dws_traffic_channel_window, foreachBatch MERGE into
        the versioned table store (the reference's ClickHouse-sink shape)
        → ``{store_path}`` (default ``{work_dir}/dws_traffic_channel``)

    Every boundary is replayable and keyed exactly like the reference's
    intermediate Kafka topics (:func:`_boundary`): q2's UV dedup keeps the
    first arrival, so it reads the page log one upstream batch per
    trigger, in commit order; q3's window reads every committed UV file
    per trigger. Each query owns its checkpoint, so any stage can
    crash/restart independently (the file-source metadata log resumes
    where it stopped). Read the served table with
    ``table_store.read_state``. Returns [q1, q2, q3]; drain with
    ``q.processAllAvailable()`` in topological order.
    """
    store_path = store_path or os.path.join(work_dir, "dws_traffic_channel")
    q1, page = _boundary(
        dwd_log_split(raw)["page"], work_dir, "dwd_traffic_page_log", 1,
        in_order=True,
    )
    q2, uv = _boundary(
        dwd_unique_visitor_detail(page), work_dir, "dwd_traffic_uv", 2
    )
    # injective composite PK: JSON keeps nulls and escapes separators, so
    # distinct dimension tuples can never collapse to one key (concat_ws
    # would drop NULL dims and collide on '|' in values)
    dws = dws_traffic_channel_window(uv).withColumn(
        "pk",
        F.to_json(
            F.struct("stt", "vc", "ch", "ar", "is_new"),
            {"ignoreNullFields": "false"},
        ),
    )
    q3 = _merge_sink(dws, work_dir, store_path, "pk", "append")
    return [q1, q2, q3]


def trade_stream_graph(
    raw: DataFrame,
    work_dir: str,
    store_path: str | None = None,
) -> list:
    """The §3.4 TRADE dataflow as one running set of THREE chained
    streaming queries over shared storage boundaries (the right-column
    twin of ``traffic_stream_graph``):

      raw (topic_db) ── q1: dwd_cart_add (cart-add facts with quantity
        delta + event time)
        → ``{work_dir}/dwd_cart_add``        (append boundary)
      boundary ── q2: the dws_cart_add_uu_window body (first-per-user-day
        dedup → 10 s tumble UU window)
        → ``{work_dir}/dws_cart_uu``         (append boundary)
      boundary ── q3: ADS daily rollup, foreachBatch MERGE into the
        versioned table store (the reference's OLAP-sink upsert shape)
        → ``{store_path}`` (default ``{work_dir}/ads_cart_daily``)

    Every boundary is replayable and keyed like the reference's
    intermediate Kafka topics (:func:`_boundary`): q2's daily dedup keeps
    the first arrival, so it reads the facts one upstream batch per
    trigger, in commit order; q3 reads every committed UU-window file per
    trigger. Each query owns its checkpoint. The ADS stage runs in UPDATE mode — per batch, changed days
    MERGE by PK ``dt`` into the store, so the served table always holds the
    latest rollup (K2's upsert contract instead of append windows).
    Returns [q1, q2, q3].
    """
    store_path = store_path or os.path.join(work_dir, "ads_cart_daily")
    q1, facts = _boundary(
        dwd_cart_add(raw), work_dir, "dwd_cart_add", 1, in_order=True
    )
    q2, uu = _boundary(_cart_add_uu_windows(facts), work_dir, "dws_cart_uu", 2)
    daily = (
        uu.select(F.substring("stt", 1, 10).alias("dt"), "cart_add_uu_ct")
        .groupBy("dt")
        .agg(F.sum("cart_add_uu_ct").alias("cart_add_uu"))
    )
    q3 = _merge_sink(daily, work_dir, store_path, "dt", "update")
    return [q1, q2, q3]


def full_stream_topology(
    log_raw: DataFrame,
    db_raw: DataFrame,
    work_dir: str,
    store_root: str,
) -> dict[str, list]:
    """SURVEY §3.4's COMPLETE picture in one checkpointed run: the traffic
    column (topic_log → log split → UV detail → channel DWS) and the trade
    column (topic_db → Maxwell cart facts → UU window → ADS daily) running
    CONCURRENTLY as six streaming queries, both columns' final outputs
    MERGE-upserted into the same versioned table store root — the role the
    reference's single ClickHouse instance plays for every DWS job
    (rt/app/dws/*.java → MyClickhouseUtil):

        {store_root}/dws_traffic_channel   (PK = JSON of (stt,vc,ch,ar,is_new))
        {store_root}/ads_cart_daily        (PK dt)

    Each query owns its checkpoint under ``work_dir`` so any stage of
    either column can crash/restart independently while the rest keep
    running. Returns {"traffic": [q1,q2,q3], "trade": [q1,q2,q3]}; drain
    each column in topological order (interleaving columns is fine — they
    share nothing but the store, whose optimistic commits serialize
    concurrent writers)."""
    traffic = traffic_stream_graph(
        log_raw,
        os.path.join(work_dir, "traffic"),
        store_path=os.path.join(store_root, "dws_traffic_channel"),
    )
    trade = trade_stream_graph(
        db_raw,
        os.path.join(work_dir, "trade"),
        store_path=os.path.join(store_root, "ads_cart_daily"),
    )
    return {"traffic": traffic, "trade": trade}
