"""Replicates the driver's t2 gate locally: every registered query with an
oracle must match DuckDB at sf0.001 (fast); queries without an oracle must at
least run and return a stable schema. Both tests also hold every query to the
registry-wide structural guards (_assert_registry_guards)."""

from __future__ import annotations

import pytest

from realtime_datawarehouse_spark.plans import registry
from tests.conftest import SF_DIR, SF_DIR_MID, assert_matches_oracle

registry.load()
ALL = sorted(registry.QUERIES)
WITH_ORACLE = [n for n in ALL if n in registry.ORACLES]
WITHOUT_ORACLE = [n for n in ALL if n not in registry.ORACLES]

# Sketch queries whose oracles are VALUES literals pinned at the driver's
# contract scale (sf0.01, plans/sketch_agg.py) — the Spark side must run at
# that scale locally too; the oracle reads no tables, so the duck fixture's
# sf0.001 views are irrelevant for them.
PINNED_AT_SF001 = {"sk_hll_daily_uv", "sk_quantile_order_value"}


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name):
    sf_dir = SF_DIR_MID if name in PINNED_AT_SF001 else SF_DIR
    df = registry.QUERIES[name](spark, sf_dir)
    _assert_registry_guards(spark, name, df)
    assert_matches_oracle(df, duck, registry.ORACLES[name])


@pytest.mark.parametrize("name", WITHOUT_ORACLE)
def test_query_runs(spark, name):
    df = registry.QUERIES[name](spark, SF_DIR)
    _assert_registry_guards(spark, name, df)
    assert df.columns  # stable schema
    assert df.count() >= 0


def _assert_registry_guards(spark, name, df) -> None:
    """The structural guards every registered query must pass, checked on
    the DataFrame its per-query test builds anyway:

    - every query stays JVM-side or Arrow-batched: a BatchEvalPython node
      (row-at-a-time Python UDF) in its plan is a bug;
    - no query explodes a stored array column outside
      STORED_EXPLODE_ALLOWLIST. This is the precondition of the
      session-wide InferFiltersFromGenerate exclusion (r13 §1, VERDICT r13
      item 7): for a computed array the synthesized size>0/isnotnull
      filter re-inlines the whole producing expression (the
      double-tokenize bug the exclusion fixed); only for a stored column
      could it have pruned at the scan;
    - the query is addressable from plain spark.sql as a view named after
      it, the way serving.register_query_views exposes every query.
    """
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "BatchEvalPython" not in plan, f"row Python UDF in {name}"

    offenders = _stored_explode_offenders(df)
    assert tuple(offenders) == STORED_EXPLODE_ALLOWLIST.get(name, ()), (
        "queries exploding stored array columns (InferFiltersFromGenerate "
        f"exclusion precondition violated, or allowlist stale): {name}: "
        f"{offenders}"
    )

    df.createOrReplaceTempView(name)
    try:
        assert spark.sql(f"SELECT * FROM {name}").schema == df.schema, (
            f"{name} does not read back as a view"
        )
    finally:
        spark.catalog.dropTempView(name)


def _stored_explode_offenders(df) -> list[str]:
    """Names of generator inputs that ARE a bare stored (scanned) column.

    Walks the analyzed logical plan: collects every leaf relation's output
    exprIds, then checks each Generate node's generator's DIRECT child
    expressions against them. A computed array (tokenize→shingle etc.) is
    produced by an Alias and carries a fresh exprId, so it never matches a
    leaf output; a generator over an expression of stored scalars (e.g.
    ``explode(split(text, ' '))``) has a non-attribute child and is the
    exact shape the rule exclusion FIXES, so it is not an offender. Only a
    generator whose input is the stored array attribute itself (e.g.
    ``posexplode(embedding)``) loses a scan-level prune to the exclusion.
    """
    import json as _json

    analyzed = df._jdf.queryExecution().analyzed()
    if "Generate" not in analyzed.toString():
        return []  # no generator at all: skip the JSON walk
    nodes = _json.loads(analyzed.toJSON())

    def _subtree_size(flat, i):
        n = flat[i].get("num-children", 0)
        j = i + 1
        for _ in range(n):
            j += _subtree_size(flat, j)
        return j - i

    def _direct_children(flat):
        out, j = [], 1
        for _ in range(flat[0].get("num-children", 0)):
            out.append(flat[j])
            j += _subtree_size(flat, j)
        return out

    leaf_ids = set()
    for n in nodes:
        if n.get("num-children", 0) == 0:
            for expr in n.get("output") or []:
                a = expr[0] if isinstance(expr, list) else expr
                if "exprId" in a:
                    leaf_ids.add(a["exprId"]["id"])
    offenders = []
    for n in nodes:
        if not n.get("class", "").endswith(".Generate"):
            continue
        for a in _direct_children(n["generator"]):
            if (
                a.get("class", "").endswith(".AttributeReference")
                and a.get("exprId", {}).get("id") in leaf_ids
            ):
                offenders.append(a["name"])
    return offenders


# The measured, accepted exceptions: these explode the stored (nullable in
# the parquet schema, non-null by construction of the embedding store)
# ``embeddings.embedding`` array directly. For them the excluded
# InferFiltersFromGenerate rule would have pushed an isnotnull/size>0
# prune to the scan — worthless on a store with no null rows, and far
# cheaper than the double tokenize the exclusion removes everywhere else.
# Any NEW direct explode of a stored array must be added here consciously
# (or restructured), keeping the r13 session-wide exclusion honest.
STORED_EXPLODE_ALLOWLIST = {
    "embed_dimension_stats": ("embedding",),
    "embed_source_centroid_drift": ("embedding", "embedding"),
    "embed_int8_quantize_eval": ("embedding", "embedding"),
}


def test_no_oracle_emits_driver_hostile_dtypes(duck):
    """The driver's value hash is DTYPE-sensitive where its row/schema
    checks (and this suite's pandas-coercing compare) are not: an uncast
    DuckDB ``SUM(CASE…)`` returns HUGEINT while Spark returns BIGINT, and
    the values hash differently even when identical — that cost round 5 its
    only red row (olap_anomaly_outliers, VERDICT r5 item 1). Kill the class
    permanently: DESCRIBE every registered oracle and reject any output
    column whose type Spark can't emit (HUGEINT/UHUGEINT/DECIMAL — Spark
    sides here emit BIGINT/DOUBLE/VARCHAR; cast the oracle).

    Deliberately NOT flagged: int32↔BIGINT width differences. Measured
    r6: 32 such columns exist across queries whose latest driver record
    is fully GREEN (e.g. text_ngram_topk.rank int vs BIGINT), so the
    driver hash is robust to integer width — only representation changes
    (HUGEINT→Decimal objects) break it. Don't re-litigate."""
    offenders = []
    for name, sql in registry.ORACLES.items():
        for col, typ, *_ in duck.execute("DESCRIBE " + sql).fetchall():
            if "HUGEINT" in typ or typ.startswith("DECIMAL"):
                offenders.append((name, col, typ))
    assert offenders == []


def test_every_query_has_docstring_or_operator_citation():
    for name, fn in registry.QUERIES.items():
        mod_doc = __import__(fn.__module__, fromlist=["__doc__"]).__doc__ or ""
        assert (fn.__doc__ or mod_doc), f"{name} lacks documentation"


def test_ivf_trained_codebook_recall_floor(spark):
    """VERDICT r01 #9: the trained (k-means) IVF codebook must recover at
    least 30% of the exact top-k on the fixture (measured ≈0.475 at
    sf0.001, vs ≈0.40 for the untrained subset quantizer; the floor leaves
    margin for float-order jitter in the distributed mean updates)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import similarity
    from realtime_datawarehouse_spark.tables import table

    emb = table(spark, SF_DIR, "embeddings")
    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_topk(emb, qs, 5).collect()
    }
    cents = similarity.train_centroids(emb, k=16, iters=2)
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, qs, 5, centroids=cents).collect()
    }
    assert len(exact & got) / len(exact) >= 0.30

    # VERDICT r03 #2: the training loop's assignment step reuses ivf_assign's
    # map-combinable max_by argmax — no row_number window may sort the
    # |corpus| × k scored rows
    plan = similarity.ivf_assign(emb, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "assignment must not use a window over scored rows"


def test_pq_recall_floors(spark):
    """PQ/ADC approximation quality (oracle-exactness is covered by the
    registered queries; this pins that the approximation is USEFUL):
    raw ADC recall@5 ≥ 0.30 and shortlist-reranked recall@5 ≥ 0.70 vs
    brute force (measured 0.40 and 0.875 at sf0.001, 0.5/0.95 at
    sf0.01 — floors leave margin)."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import similarity
    from realtime_datawarehouse_spark.tables import table

    emb = table(spark, SF_DIR, "embeddings")
    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_topk(emb, qs, 5).collect()
    }
    adc = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk(emb, qs, 5).collect()
    }
    rr = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_rerank_topk(emb, qs, 5).collect()
    }
    assert len(exact & adc) / len(exact) >= 0.30
    assert len(exact & rr) / len(exact) >= 0.70


def test_audio_codec_is_real_roundtrip(spark):
    """mm_audio_decode must parse genuine RIFF/WAVE bytes: corrupt the
    payload and the decode kernel must fail — proof it reads the container,
    not arithmetic on the bytes."""
    from realtime_datawarehouse_spark.operators import multimodal
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents").limit(8)
    out = multimodal.audio_decode(docs)
    assert out.count() == 8
    # sanity: a decoded row's fields obey the synthesis arithmetic
    r = out.where("doc_id = 1").collect()[0]
    assert (r.sample_rate, r.n_channels, r.n_frames, r.rms) == (16000, 2, 161, 1)

    corrupted = docs.select("doc_id").mapInPandas(
        multimodal.make_wav_encode_kernel(), schema=multimodal.PAYLOAD_SCHEMA
    ).selectExpr("doc_id", "substr(payload, 5) AS payload")
    bad = corrupted.mapInPandas(
        multimodal.make_wav_decode_kernel(), schema=multimodal.AUDIO_SCHEMA
    )
    with pytest.raises(Exception, match="RIFF"):
        bad.collect()


def test_compression_ratio_oracle(spark):
    """Rows-only query text_compression_ratio: every (raw, zlib, ratio6)
    triple must equal direct zlib on the driver (integer round-half-up)."""
    import zlib

    from realtime_datawarehouse_spark.operators import textops
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents")
    got = {
        r.doc_id: (r.raw_bytes, r.zlib_bytes, r.ratio6)
        for r in textops.compression_ratio(docs).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        raw = row.text.encode("utf-8")
        comp = len(zlib.compress(raw, textops.COMPRESS_LEVEL))
        r = len(raw)
        ratio6 = (
            comp * 1_000_000 // r + (1 if (comp * 1_000_000 % r) * 2 >= r else 0)
            if r
            else 1_000_000
        )
        assert got[row.doc_id] == (r, comp, ratio6), row.doc_id


def test_cdc_chunks_shift_robustness(spark):
    """The point of content-defined chunking: inserting one sentence near
    the head must leave the chunk-hash set mostly intact (boundaries
    re-synchronize), where fixed-size chunking would shift every window."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import textops

    # long enough that ~25 chunks form: the head insertion perturbs only
    # chunk 0, so Jaccard ≈ (n-1)/(n+1) ≈ 0.9 and the 4×4 banding fires
    # with near-certainty (deterministic given the fixed hash family)
    base = " ".join(f"tok{i}" for i in range(200))
    edited = "inserted tokens here " + base
    docs = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    ch = textops.cdc_chunks(docs).collect()
    a = {r.chunk_hash for r in ch if r.doc_id == 1}
    b = {r.chunk_hash for r in ch if r.doc_id == 2}
    assert a and b
    # everything after the first post-edit boundary must be shared
    overlap = len(a & b) / len(a)
    assert overlap >= 0.5, (overlap, len(a), len(b))
    # and the pair is a MinHash-CDC candidate
    from realtime_datawarehouse_spark.operators import dedup

    pairs = {(r.doc_a, r.doc_b) for r in dedup.cdc_minhash_pairs(docs).collect()}
    assert (1, 2) in pairs

    # plan shape: the chunk fold is per-row — no exchange before the explode
    plan = textops.cdc_chunks(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_epoch_schedule_contract(spark):
    """Dedup-aware epoch scheduler: keepers only, ceil(E) epochs, exact
    full-epoch membership, deterministic fractional subset, per-epoch
    permutation keys that actually differ between epochs."""
    from pyspark.sql import functions as F

    from realtime_datawarehouse_spark.operators import textops

    rows = [(i, f"s{i % 2}", f"text {i}") for i in range(40)]
    rows.append((100, "s0", "text 0"))  # duplicate text — must not schedule
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = textops.epoch_schedule(
        docs, {"s0": 2.5, "s1": 1.0}
    ).collect()
    assert all(r.doc_id != 100 for r in out)  # dedup-aware
    by_doc_epoch = {(r.doc_id, r.epoch) for r in out}
    s0_docs = [i for i in range(40) if i % 2 == 0]
    # full epochs 0 and 1 contain every s0 keeper
    for e in (0, 1):
        for d in s0_docs:
            assert (d, e) in by_doc_epoch
    # fractional epoch 2: a strict, non-empty, deterministic subset
    e2 = {d for (d, e) in by_doc_epoch if e == 2}
    assert e2 and e2 < set(s0_docs)
    out2 = textops.epoch_schedule(docs, {"s0": 2.5, "s1": 1.0}).collect()
    assert {(r.doc_id, r.epoch) for r in out2} == by_doc_epoch
    # per-epoch permutation: same doc, different epoch → different key
    keys = {}
    for r in out:
        keys.setdefault(r.doc_id, set()).add(r.perm_key)
    multi = [d for d, e in keys.items() if (d, 1) in by_doc_epoch]
    assert all(len(keys[d]) >= 2 for d in multi)


def test_containment_detects_inclusion_jaccard_misses(spark):
    """The point of the containment metric: a short document pasted inside
    a much longer one scores containment 1.0 but Jaccard ≈ |A|/|B| —
    below any usual near-dup threshold."""
    from realtime_datawarehouse_spark.operators import dedup

    short = " ".join(f"tok{i}" for i in range(20))
    long = short + " " + " ".join(f"pad{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.ngram_containment_pairs(docs, 0.5).collect()
    }
    assert cont.get((1, 2)) == 1.0
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, 0.0).collect()
    }
    assert jac[(1, 2)] < 0.1  # Jaccard under-scores the inclusion


def test_cdc_chunks_sentinel_contract(spark):
    """U+0001 stripping is part of the cdc_chunks contract: text carrying
    the sentinel character chunks identically to the sanitized text."""
    from realtime_datawarehouse_spark.operators import textops

    base = " ".join(f"tok{i}" for i in range(60))
    hostile = base.replace("tok7", "tok\x017", 1)  # sentinel inside a token
    docs = spark.createDataFrame(
        [(1, base), (2, hostile)], "doc_id long, text string"
    )
    ch = textops.cdc_chunks(docs).collect()
    a = sorted((r.chunk_id, r.chunk_hash) for r in ch if r.doc_id == 1)
    b = sorted((r.chunk_id, r.chunk_hash) for r in ch if r.doc_id == 2)
    assert a == b


def test_incremental_dedup_flags_batch_against_corpus_only(spark):
    """The incremental-dedup contract: an incoming-batch document that
    duplicates a corpus document is flagged (dup_of = smallest best-match
    corpus doc), corpus-corpus duplicates are NOT re-reported (that pass
    already ran when those docs ingested), and unique batch docs are
    absent. Plan: the batch side of the band join is broadcast so the
    corpus never self-pairs."""
    from realtime_datawarehouse_spark.operators import dedup

    base = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"alt{i}" for i in range(40))
    rows = [
        (1, base),            # corpus
        (2, base + " tail"),  # corpus near-dup of 1 — must NOT be reported
        (17, base),           # batch (17 % 10 == 7): dup of corpus 1 and 2
        (27, other),          # batch: unique — must be absent
        (3, other),           # corpus twin of 27's content? no — identical
    ]
    # make 27 a real dup of corpus doc 3 to also check a second flag
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.dup_of, r.match_bits)
        for r in dedup.incremental_lsh_flags(docs).collect()
    }
    assert set(got) == {17, 27}
    assert got[17][0] == 1  # ties toward the SMALLEST corpus doc id
    assert got[17][1] == dedup.NUM_PERM  # identical text -> all perms match
    assert got[27] == (3, dedup.NUM_PERM)

    plan = (
        dedup.incremental_lsh_flags(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_flags_signature_table_form_parity(spark):
    """The deployment entry point (flags vs a MATERIALIZED signature
    table) must produce exactly the registered single-table form's
    verdicts — the refactor guarantee that lets the production loop skip
    per-ingest corpus recomputation (SCALE.md §23)."""
    from realtime_datawarehouse_spark.operators import dedup
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus_sig = dedup.minhash_signatures(docs.where("doc_id % 10 <> 7"))
    got = {
        (r.doc_id, r.dup_of, r.match_bits)
        for r in dedup.incremental_flags_vs_signatures(
            docs.where("doc_id % 10 = 7"), corpus_sig
        ).collect()
    }
    expected = {
        (r.doc_id, r.dup_of, r.match_bits)
        for r in dedup.incremental_lsh_flags(docs).collect()
    }
    assert got == expected and len(got) > 0


def test_incremental_dedup_replay_never_self_flags(spark):
    """Replay safety (round-6 review find): when a batch's OWN signatures
    already reached the corpus table — a foreachBatch replay after a
    mid-loop crash, or a re-ingest of an existing doc_id — a document
    must not flag itself as its own duplicate; its verdicts must equal
    the clean first run's."""
    from realtime_datawarehouse_spark.operators import dedup
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    batch = docs.where("doc_id % 10 = 7")
    corpus_sig = dedup.minhash_signatures(docs.where("doc_id % 10 <> 7"))
    clean = {
        (r.doc_id, r.dup_of, r.match_bits)
        for r in dedup.incremental_flags_vs_signatures(
            batch, corpus_sig
        ).collect()
    }
    # replay: the corpus side now ALSO contains the batch's signatures
    replay_corpus = dedup.minhash_signatures(docs)
    replay = {
        (r.doc_id, r.dup_of, r.match_bits)
        for r in dedup.incremental_flags_vs_signatures(
            batch, replay_corpus
        ).collect()
    }
    assert all(d != dup for d, dup, _ in replay)  # no self-flags
    # every clean verdict survives the replay (self-pairs only ADD noise
    # the guard removes; the guard must not lose true duplicates)
    assert clean <= replay
