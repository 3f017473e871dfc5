"""Document deduplication operators (exact, n-gram Jaccard, MinHash-LSH,
SimHash) — the training-data-pipeline extensions beyond the reference's own
surface (BASELINE.json north-star).

Everything is built from builtin expressions on the portable md5-based hash
(functions/hashing.py) so each operator has an exact DuckDB oracle. No UDFs:
shingling is transform/slice, signatures are groupBy-min, banding is
explode + self-join — all JVM-side.

Scale design (100 TB story):
- Shingle explode multiplies rows ~Ntokens×; the immediate groupBy(doc) for
  signatures is map-side-combinable, so the shuffle carries only
  (doc, 16×min) signature rows — O(docs), not O(shingles).
- LSH banding turns the quadratic all-pairs problem into an equi-join on
  (band_idx, band_key): Spark shuffles both sides by bucket key; skew =
  popular buckets → AQE skew-join splits them.
- Exact dedup is a single hash aggregation on md5(text) — the cheapest
  possible formulation; at 100 TB this is the one you run first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_datawarehouse_spark.functions.compare import pround, pround_sql
from realtime_datawarehouse_spark.functions.hashing import (
    hash64,
    hash64_pair,
    hash64_pair_sql,
    hash64_sql,
    minhash_perm_sql,
    minhash_signature,
    permutation_params,
)
from realtime_datawarehouse_spark.functions.text import tokenize, word_shingles
from realtime_datawarehouse_spark.operators.layout import rebalance_narrow_scan

NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS
SHINGLE_N = 3

# Shared CTE prefix for DuckDB oracles: distinct word-shingles per document.
# list_transform's lambda index is 1-based in DuckDB; toks[i..] slicing keeps
# parity with the Spark transform/slice formulation.
SHINGLE_CTE = f"""
WITH docs AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - {SHINGLE_N - 2}),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM docs WHERE len(toks) >= {SHINGLE_N}
), e AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
)
"""


def doc_shingles(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """documents → (doc_id, shingle, n_shingles), distinct shingles per doc."""
    # Shingling is the CPU amplifier of every dedup pipeline (~Ntokens×
    # rows out, md5 per shingle); a narrow scan (few unsplittable files)
    # would run it near-serially, so rebalance first (no-op when the scan
    # is already wide). Measured at bench sf0.1: ngram 2.4 s → 1.1 s.
    docs = rebalance_narrow_scan(docs)
    # No size()>0 pre-filter: explode drops empty arrays for free, and a
    # filter on the array column would be predicate-pushed BELOW this
    # projection, re-inlining the whole shingle expression into a second
    # evaluation (measured 2× at bench). The optimizer's
    # InferFiltersFromGenerate rule used to synthesize exactly that
    # filter on its own; it is excluded session-wide (session.py
    # _EXCLUDED_OPT_RULES, r13 — measured 2.3× on minhash_signatures).
    with_sh = docs.select(
        "doc_id",
        F.array_distinct(word_shingles(tokenize(text_col), SHINGLE_N)).alias(
            "shingles"
        ),
    )
    return with_sh.select(
        "doc_id",
        F.explode("shingles").alias("s"),
        F.size("shingles").alias("n"),
    )


def doc_shingle_hashes(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, h, n): 60-bit-hashed distinct shingles.

    Joining/aggregating on int64 hashes instead of shingle strings shrinks
    shuffle width ~10× — the scale-relevant representation. The hash is the
    portable md5-based one, so oracles reproduce any collision identically.
    """
    e = doc_shingles(docs, text_col)
    return e.select("doc_id", hash64(F.col("s")).alias("h"), "n")


def _pairs_from_sorted_members(members: F.Column) -> F.Column:
    """array<struct<doc_id,n>> (sorted) → array of (a, b) combination structs.

    Pair generation via array combinatorics instead of a self-join: the
    upstream explode+aggregate runs ONCE (a self-join would recompute the
    whole shingle pipeline per side — measured 2× cost at bench).
    """
    return F.flatten(
        F.transform(
            members,
            lambda x, i: F.transform(
                F.slice(members, i + 2, F.size(members)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: hash-groupBy on content hash, keep the smallest doc_id.

    (dup_ct = 1 groups are retained so the result is a full keeper mapping.)
    """
    return docs.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.count("*").alias("dup_ct"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS content_hash, count(*) AS dup_ct, min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1
"""


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via shingle inverted index.

    inverted index (shingle-hash → sorted member list) → per-shingle pair
    combinations → per-pair intersection count → |A∩B| / (|A|+|B|-|A∩B|).
    One scan of the corpus; the only shuffle keys are the int64 shingle hash
    and then the (doc_a, doc_b) pair.

    ``max_doc_freq`` is the skew cap for hot shingles — member lists go
    quadratic in pair generation, and a shingle appearing in thousands of
    documents carries no dedup signal. Capped runs UNDERCOUNT ``inter`` for
    pairs sharing dropped shingles (jaccard becomes a lower bound); the
    default exact run (cap=None) is the oracle-checked entry, the capped
    form is the 100 TB configuration (tested against a capped oracle).

    DEPLOYMENT DEFAULT at 100 TB: the df-capped form (``max_doc_freq``
    set; measured near-linear in SCALE.md §12 vs 13-16×/decade uncapped),
    or ``dedup_minhash_lsh`` when a banded sketch is acceptable — this
    uncapped exact form is the audit oracle (``dedup_minhash_eval``).
    """
    return _jaccard_from_index(
        shingle_inverted_index(docs), threshold, max_doc_freq
    )


def shingle_inverted_index(docs: DataFrame) -> DataFrame:
    """(h, members): the shingle inverted index — hash → sorted
    (doc_id, n) member list. The one exchange (on ``h``) every
    shingle-pair consumer shares: when a composed query builds BOTH an
    exact-pair side and a MinHash side from the same index DataFrame,
    Spark's exchange reuse runs the scan + shingle + hash pipeline ONCE
    (r13: dedup_minhash_eval dropped its duplicate shingle subtree)."""
    e = doc_shingle_hashes(docs)
    return e.groupBy("h").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("doc_id"), F.col("n")))
        ).alias("members")
    )


def _jaccard_from_index(
    inv: DataFrame,
    threshold: float,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard pairs from a :func:`shingle_inverted_index` result."""
    # hapax shingles (one member) generate zero pairs — drop them BEFORE
    # the combination expression runs. Safe (members is the agg's output,
    # nothing re-computes). On natural corpora hapax typically dominates
    # the distinct-shingle set (>60%), making this the main pair-stage
    # pruner; the synthetic bench corpus is only ~1% hapax (small
    # vocabulary), so no bench delta — the win is a property of real
    # text, not of this fixture.
    inv = inv.where(F.size("members") >= 2)
    if max_doc_freq is not None:
        inv = inv.where(F.size("members") <= max_doc_freq)
    # flatten before the pair shuffle: 4 primitive columns beat nested
    # structs in shuffle width (~8% at bench, more at scale)
    pair = inv.select(
        F.explode(_pairs_from_sorted_members(F.col("members"))).alias("p")
    ).select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.n").alias("na"),
        F.col("p.b.n").alias("nb"),
    )
    pairs = pair.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("inter"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pairs.withColumn("jaccard", pround(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _signatures_from_index(inv: DataFrame) -> DataFrame:
    """MinHash signatures re-derived from the inverted index.

    Identical values to :func:`minhash_signatures` (min over a doc's
    distinct shingle hashes — the index holds exactly those, hapax
    included, so the UNFILTERED index must be passed). Standalone this
    shape costs one extra exchange vs the direct groupBy(doc_id); its
    point is composition: built from the SAME index DataFrame as a pair
    side, the exchange under the index is reused and the whole
    scan→shingle→hash pipeline is shared instead of duplicated."""
    e = inv.select("h", F.explode("members").alias("m")).select(
        F.col("m.doc_id").alias("doc_id"), "h"
    )
    return e.groupBy("doc_id").agg(*minhash_signature(F.col("h"), NUM_PERM))


def lsh_vs_exact_pair_sides(
    docs: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """(lsh_pairs, exact_jaccard_pairs) built from ONE shared shingle
    inverted index — the audit-query composition (dedup_minhash_eval).

    Calling :func:`lsh_candidate_pairs` and :func:`ngram_jaccard_pairs`
    separately duplicates the scan + shingle + hash subtree (two full
    Exchanges on h/doc_id over independently recomputed shingles);
    branching both sides off one index DataFrame lets exchange reuse
    evaluate it once (guide §2.4). Values are identical on both sides —
    pinned by tests/test_plans.py
    test_shared_index_pair_sides_equal_direct_forms."""
    inv = shingle_inverted_index(docs)
    lsh = _band_pairs(_signatures_from_index(inv))
    exact = _jaccard_from_index(inv, threshold)
    return lsh, exact


def ngram_jaccard_oracle(
    threshold: float = 0.8, max_doc_freq: int | None = None
) -> str:
    # joins on the same 60-bit shingle hash as the Spark plan so any hash
    # collision affects both engines identically
    df_filter = (
        f"""
, df AS (
  SELECT h FROM eh GROUP BY h HAVING count(*) <= {max_doc_freq}
), eh2 AS (
  SELECT eh.* FROM eh JOIN df USING (h)
)"""
        if max_doc_freq is not None
        else ", eh2 AS (SELECT * FROM eh)"
    )
    return (
        SHINGLE_CTE
        + f"""
, eh AS (
  SELECT doc_id, {hash64_sql('s')} AS h, n FROM e
){df_filter}
, pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM eh2 a JOIN eh2 b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       {pround_sql('inter * 1.0 / (na + nb - inter)', 4)} AS jaccard
FROM pairs
WHERE {pround_sql('inter * 1.0 / (na + nb - inter)', 4)} >= {threshold}
"""
    )


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: C = |A∩B| / min(|A|, |B|).

    Jaccard misses inclusion cases — a document pasted inside a 10× longer
    one scores |A|/|B| ≈ 0.1 Jaccard but 1.0 containment. This is the
    standard quote/boilerplate/partial-copy detector (Broder's containment,
    the metric behind "doc A is substantially inside doc B"). Same inverted
    index, pair combinatorics, and skew cap as ``ngram_jaccard_pairs`` —
    only the final ratio differs, so every scale property carries over.
    """
    e = doc_shingle_hashes(docs)
    inv = e.groupBy("h").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("doc_id"), F.col("n")))
        ).alias("members")
    )
    inv = inv.where(F.size("members") >= 2)
    if max_doc_freq is not None:
        inv = inv.where(F.size("members") <= max_doc_freq)
    pair = inv.select(
        F.explode(_pairs_from_sorted_members(F.col("members"))).alias("p")
    ).select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.n").alias("na"),
        F.col("p.b.n").alias("nb"),
    )
    pairs = pair.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("inter"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    cont = F.col("inter") / F.least(F.col("na"), F.col("nb"))
    return (
        pairs.withColumn("containment", pround(cont, 4))
        .where(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def ngram_containment_oracle(threshold: float = 0.8) -> str:
    return (
        SHINGLE_CTE
        + f"""
, eh AS (
  SELECT doc_id, {hash64_sql('s')} AS h, n FROM e
)
, pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM eh a JOIN eh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       {pround_sql('inter * 1.0 / least(na, nb)', 4)} AS containment
FROM pairs
WHERE {pround_sql('inter * 1.0 / least(na, nb)', 4)} >= {threshold}
"""
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{NUM_PERM-1}) MinHash signature via groupBy-min."""
    h = doc_shingle_hashes(docs)
    return h.groupBy("doc_id").agg(*minhash_signature(F.col("h"), NUM_PERM))


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature, pair within buckets.

    Returns distinct (doc_a, doc_b) with doc_a < doc_b. A pair is a candidate
    iff it collides in ≥1 band — the classic banding guarantee
    (P ≈ 1-(1-j^r)^b with r=4, b=4).

    Physical shape: the signature aggregation runs once; banding is an
    explode of a literal band array (not a union of N projections, which
    re-executes the signature N×); bucket membership lists turn candidate
    generation into array combinatorics instead of a self-join (which would
    re-execute everything 2×).
    """
    return _band_pairs(minhash_signatures(docs))


def _band_pairs(sig: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{NUM_PERM-1}) signatures → distinct banded candidate
    pairs (shared by the shingle and CDC-chunk MinHash variants; the
    banded view itself is :func:`_sig_bands`, shared with the incremental
    path so the band-key format can never diverge)."""
    bands = _sig_bands(sig)
    buckets = bands.groupBy("band_idx", "band_key").agg(
        F.sort_array(F.collect_list(F.struct(F.col("doc_id")))).alias("members")
    )
    pair = buckets.where(F.size("members") > 1).select(
        F.explode(_pairs_from_sorted_members(F.col("members"))).alias("p")
    )
    return pair.select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
    ).distinct()


def lsh_candidate_pairs_oracle() -> str:
    params = permutation_params(NUM_PERM)
    min_exprs = ",\n         ".join(
        f"min({minhash_perm_sql('h', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = []
    for b in range(BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sig"
        )
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    return (
        SHINGLE_CTE
        + f"""
, h AS (
  SELECT doc_id, {hash64_sql('s')} AS h FROM e
), sig AS (
  SELECT doc_id,
         {min_exprs}
  FROM h GROUP BY doc_id
), bands AS (
  {bands_sql}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
"""
    )


# incremental (batch-vs-corpus) dedup: the daily-ingest shape. A new batch
# is deduped AGAINST the standing corpus — never corpus×corpus — so the
# per-run cost is O(|batch| × band-collision fanout) regardless of corpus
# size. The deterministic split below stands in for "today's arrivals".
INCR_BATCH_MOD = 10
INCR_BATCH_REMAINDER = 7
# signature-estimated Jaccard gate: matching permutations out of NUM_PERM
# (8/16 ≈ ĵ 0.5) — an integer, so the verdict is engine-portable with no
# float threshold to disagree on
INCR_MIN_MATCH_BITS = 8


def _sig_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) banded view of a signature table."""
    band_structs = []
    for b in range(BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws("_", *cols).alias("band_key"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")


def _incremental_flags(
    batch_bands: DataFrame,
    corpus_bands: DataFrame,
    sa: DataFrame,
    sb: DataFrame,
    broadcast_batch_sig: bool,
) -> DataFrame:
    """Shared core of the two incremental-dedup entry points: band-collide
    ``batch_bands`` (aliased nb, broadcast) against ``corpus_bands``
    (aliased cb), score candidates by matching MinHash permutations from
    the ``sa`` (batch) / ``sb`` (corpus) signature sides, gate at
    ``INCR_MIN_MATCH_BITS``, and pick per batch doc the corpus doc with
    the highest agreement (ties toward the smallest doc_id) via a
    map-combinable max(struct) — no window over candidates. A self-pair
    guard (``cb.doc_id != nb.doc_id``) keeps a document whose own
    signature already reached the corpus side — a foreachBatch REPLAY
    after a mid-loop crash, or a re-ingest of an existing doc_id — from
    flagging itself as its own duplicate."""
    cands = (
        corpus_bands.join(
            F.broadcast(batch_bands),
            (F.col("cb.band_idx") == F.col("nb.band_idx"))
            & (F.col("cb.band_key") == F.col("nb.band_key"))
            & (F.col("cb.doc_id") != F.col("nb.doc_id")),
        )
        .select(
            F.col("nb.doc_id").alias("doc_id"),
            F.col("cb.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    match_bits = None
    for i in range(NUM_PERM):
        t = F.when(
            F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}"), 1
        ).otherwise(0)
        match_bits = t if match_bits is None else match_bits + t
    sa_side = F.broadcast(sa) if broadcast_batch_sig else sa
    scored = (
        cands.join(sa_side, cands.doc_id == F.col("sa.doc_id"))
        .join(sb, cands.corpus_doc == F.col("sb.doc_id"))
        .select(
            cands.doc_id.alias("doc_id"),
            cands.corpus_doc.alias("corpus_doc"),
            match_bits.alias("match_bits"),
        )
        .where(F.col("match_bits") >= INCR_MIN_MATCH_BITS)
    )
    best = scored.groupBy("doc_id").agg(
        F.max(
            F.struct(
                F.col("match_bits"),
                (-F.col("corpus_doc")).alias("neg_doc"),
            )
        ).alias("best")
    )
    return best.select(
        "doc_id",
        (-F.col("best.neg_doc")).alias("dup_of"),
        F.col("best.match_bits").alias("match_bits"),
    )


def incremental_flags_vs_signatures(
    batch_docs: DataFrame, corpus_sig: DataFrame
) -> DataFrame:
    """(doc_id, dup_of, match_bits): flag ``batch_docs`` against an
    ALREADY-MATERIALIZED corpus signature table — the deployment entry
    point of :func:`incremental_lsh_flags` (which recomputes both sides
    from one table for its SQL oracle). ``corpus_sig`` is
    (doc_id, mh0..mh{NUM_PERM-1}), e.g. the current version of a
    signature table maintained by ``table_store.merge_upsert`` — so the
    per-ingest cost is O(|batch| + corpus band-collision fanout) with NO
    per-ingest recomputation of corpus signatures (measured flat vs
    corpus size in SCALE.md §23). The batch side of the band join is
    broadcast; the corpus side streams map-side. A replayed or re-ingested
    document whose own signature already reached ``corpus_sig`` never
    flags itself (self-pair guard in the shared core)."""
    return incremental_flags_from_signatures(
        minhash_signatures(batch_docs), corpus_sig
    )


def incremental_flags_from_signatures(
    batch_sig: DataFrame, corpus_sig: DataFrame
) -> DataFrame:
    """:func:`incremental_flags_vs_signatures` with the BATCH side also
    already a signature table — the shared-scan entry point of the
    composed production ingest loop (round 9, VERDICT r8 item 5): one
    ``minhash_signatures`` aggregation per micro-batch feeds the dup
    flags, the split maintenance, AND the signature-table merge, instead
    of each stage re-shingling the batch."""
    return _incremental_flags(
        _sig_bands(batch_sig).alias("nb"),
        _sig_bands(corpus_sig).alias("cb"),
        batch_sig.alias("sa"),
        corpus_sig.alias("sb"),
        broadcast_batch_sig=True,
    )


def incremental_lsh_flags(docs: DataFrame) -> DataFrame:
    """(doc_id, dup_of, match_bits): each INCOMING-batch document flagged
    against the EXISTING corpus via banded MinHash — the incremental form
    every production dedup actually runs day-to-day (a full-corpus pair
    pass per ingest would be quadratic over time; this never pairs corpus
    docs with each other).

    ``dup_of`` is the corpus document with the highest signature agreement
    (ties broken toward the smallest doc_id — deterministic), reported
    with its ``match_bits`` (matching MinHash permutations, 0..NUM_PERM;
    gated at ``INCR_MIN_MATCH_BITS``).

    Scale shape: ONE signature aggregation over the table (alias-reused on
    three sides — bands, batch signatures, corpus signatures — so the
    shuffle is computed once and ReusedExchange feeds the rest); candidate
    generation is a band-key equi-join whose BATCH side is broadcast
    (|batch| ≪ |corpus| by construction), so the corpus streams through
    map-side. At 100 TB the corpus signatures are not recomputed at all:
    they live in a signature table maintained by the versioned store
    (operators/table_store.py — the same bucketed-MERGE dim shape), and
    only the batch side of this plan runs per ingest. The final per-doc
    argmax is a map-combinable max(struct) — no window over candidates."""
    sig = minhash_signatures(docs)
    bands = _sig_bands(sig)
    is_batch = F.pmod(F.col("doc_id"), F.lit(INCR_BATCH_MOD)) == F.lit(
        INCR_BATCH_REMAINDER
    )
    return _incremental_flags(
        bands.where(is_batch).alias("nb"),
        bands.where(~is_batch).alias("cb"),
        sig.alias("sa"),
        sig.alias("sb"),
        broadcast_batch_sig=False,
    )


def incremental_lsh_flags_oracle() -> str:
    return _incr_flags_oracle_core(
        f"nb.doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REMAINDER}\n"
        f"    AND cb.doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REMAINDER}"
    )


def staged_incremental_flags_oracle(n_stages: int) -> str:
    """The END STATE of the incremental flags table after replaying the
    corpus as ``n_stages`` ingests keyed ``doc_id % n_stages`` — each doc
    is flagged exactly once, in its own stage, against the union of
    strictly earlier stages, so the batch characterization is simply
    ``corpus_doc's stage < doc's stage``. Used by the composed
    production-ingest eval (VERDICT r8 item 5)."""
    return _incr_flags_oracle_core(
        f"cb.doc_id % {n_stages} < nb.doc_id % {n_stages}"
    )


def _incr_flags_oracle_core(cand_where: str) -> str:
    params = permutation_params(NUM_PERM)
    min_exprs = ",\n         ".join(
        f"min({minhash_perm_sql('h', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = []
    for b in range(BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sig"
        )
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    bits = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_PERM)
    )
    return (
        SHINGLE_CTE
        + f"""
, h AS (
  SELECT doc_id, {hash64_sql('s')} AS h FROM e
), sig AS (
  SELECT doc_id,
         {min_exprs}
  FROM h GROUP BY doc_id
), bands AS (
  {bands_sql}
), cand AS (
  SELECT DISTINCT nb.doc_id AS doc_id, cb.doc_id AS corpus_doc
  FROM bands cb
  JOIN bands nb ON cb.band_idx = nb.band_idx
               AND cb.band_key = nb.band_key
  WHERE {cand_where}
), scored AS (
  SELECT cand.doc_id, cand.corpus_doc, {bits} AS match_bits
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_id
  JOIN sig sb ON sb.doc_id = cand.corpus_doc
), gated AS (
  SELECT * FROM scored WHERE match_bits >= {INCR_MIN_MATCH_BITS}
), best AS (
  SELECT doc_id,
         max({{'match_bits': match_bits, 'neg_doc': -corpus_doc}}) AS b
  FROM gated GROUP BY doc_id
)
SELECT doc_id,
       CAST(-(b.neg_doc) AS BIGINT) AS dup_of,
       CAST(b.match_bits AS BIGINT) AS match_bits
FROM best
"""
    )


def incremental_candidate_pairs(
    batch_sig: DataFrame,
    corpus_sig: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b: every banded-MinHash
    candidate pair the arrival of this batch ADDS to the corpus pair
    set — batch-vs-corpus band collisions plus batch-internal ones
    (``corpus_sig`` None = first batch, internal pairs only).

    INVARIANT (the incremental split maintenance rides on it): pair
    membership depends only on the two endpoints' signatures, which
    never change once written — so the union of these increments across
    an ingest history equals :func:`lsh_candidate_pairs` over the
    accumulated corpus EXACTLY. A foreachBatch replay regenerates the
    same pairs (idempotent); the self-pair guard keeps a re-ingested
    doc_id from pairing with its own corpus signature.

    Scale shape: identical to :func:`incremental_flags_vs_signatures` —
    the batch side of the band join is broadcast, the corpus bands
    stream map-side, cost O(|batch| + band-collision fanout), never
    corpus×corpus.

    HOT-BAND GUARD (VERDICT r8 item 3): the collision fanout of one
    (band_idx, band_key) bucket is |batch∩bucket| × |corpus∩bucket| with
    no cap — a mirror-heavy batch against a corpus containing the same
    mirrors concentrates the whole increment in one bucket.
    ``max_bucket`` bounds it: per TOUCHED bucket (corpus bands are first
    map-side semi-joined to the broadcast batch bucket keys, so only
    buckets a batch doc lands in are ever grouped), keep the
    ``max_bucket`` smallest corpus doc_ids (deterministic) before the
    pair join, capping the increment at |batch bands| × max_bucket
    pairs. Capped runs UNDERCOUNT the pair set (same documented
    lower-bound semantics as ``ngram_jaccard_pairs``' df-cap); the
    default exact form (None) is the oracle-checked entry. Consumers
    that only need CONNECTIVITY (the split maintenance) should use
    :func:`incremental_spanning_pairs` instead — exact for components
    with no fanout term at all."""
    internal = _band_pairs(batch_sig)
    if corpus_sig is None:
        return internal
    nb = _sig_bands(batch_sig).alias("nb")
    cb = _sig_bands(corpus_sig)
    if max_bucket is not None:
        # ADVICE r9 (low): rank-then-filter, NOT collect_list+slice — a
        # collect_list over the hot bucket holds |corpus∩bucket| ids in
        # ONE aggregation buffer (OOM on the very skew this cap guards
        # against). row_number over (bucket ORDER BY doc_id) keeps the
        # same deterministic "max_bucket smallest doc_ids" semantics but
        # rides Spark's external (spillable) sort: peak task memory is
        # a sort page, not the bucket. Same shuffle count — the groupBy
        # it replaces exchanged on the identical (band_idx, band_key).
        from pyspark.sql import Window

        touched = nb.select("band_idx", "band_key").distinct()
        rank_w = Window.partitionBy("band_idx", "band_key").orderBy(
            "doc_id"
        )
        capped = (
            cb.join(F.broadcast(touched), ["band_idx", "band_key"], "semi")
            .withColumn("_rk", F.row_number().over(rank_w))
            .where(F.col("_rk") <= max_bucket)
            .drop("_rk")
        )
        cb = capped
    cb = cb.alias("cb")
    cross = (
        cb.join(
            F.broadcast(nb),
            (F.col("cb.band_idx") == F.col("nb.band_idx"))
            & (F.col("cb.band_key") == F.col("nb.band_key"))
            & (F.col("cb.doc_id") != F.col("nb.doc_id")),
        )
        .select(
            F.least(F.col("cb.doc_id"), F.col("nb.doc_id")).alias("doc_a"),
            F.greatest(F.col("cb.doc_id"), F.col("nb.doc_id")).alias(
                "doc_b"
            ),
        )
        .distinct()
    )
    return cross.unionByName(internal).distinct()


def incremental_spanning_pairs(
    batch_sig: DataFrame, corpus_sig: DataFrame | None = None
) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b: a SPANNING contraction of
    :func:`incremental_candidate_pairs` — same connected components over
    the accumulated corpus, with the per-bucket clique replaced by
    O(bucket-members) star edges, so the worst-case edge count (and any
    driver collect of it) is ≤ 2 × |batch| × BANDS with NO corpus term
    (VERDICT r8 item 3: the mirror-heavy hot-band batch that inflates
    the full pair increment to |batch∩bucket| × |corpus∩bucket| yields
    exactly one edge per batch band here).

    Why connectivity is preserved EXACTLY (given the component table's
    maintained-from-first-batch precondition, streaming/pipelines.py):
    every doc that ever landed in a bucket was pair-connected to all
    members present at its arrival, so by induction a bucket's CORPUS
    members already form one connected subgraph in the accumulated pair
    graph. Connecting this batch's docs in the bucket to each other (star
    on the bucket-min batch doc) and that star root to ANY single corpus
    member (the bucket-min, deterministically) therefore reproduces the
    same merged component the full clique would — pinned against batch
    CC on a planted hot-band corpus by tests/test_streaming_pipelines.py.

    Physical shape: batch bands broadcast; corpus bands stream map-side
    through a semi-join on the ≤|batch|×BANDS touched bucket keys, then
    a min() agg per touched bucket — the B×C pair blow-up never
    materializes anywhere, not even pre-aggregation."""
    nb = _sig_bands(batch_sig)
    roots = nb.groupBy("band_idx", "band_key").agg(
        F.min("doc_id").alias("root"),
        F.collect_set("doc_id").alias("members"),
    )
    internal = roots.select(
        F.col("root").alias("doc_a"),
        F.explode("members").alias("doc_b"),
    ).where(F.col("doc_a") != F.col("doc_b"))
    if corpus_sig is None:
        return internal.distinct()
    cb = _sig_bands(corpus_sig)
    touched = roots.select("band_idx", "band_key", "root")
    cross = (
        cb.join(
            F.broadcast(touched.select("band_idx", "band_key")),
            ["band_idx", "band_key"],
            "semi",
        )
        .groupBy("band_idx", "band_key")
        .agg(F.min("doc_id").alias("corpus_min"))
        .join(F.broadcast(touched), ["band_idx", "band_key"])
        .where(F.col("corpus_min") != F.col("root"))
        .select(
            F.least("corpus_min", "root").alias("doc_a"),
            F.greatest("corpus_min", "root").alias("doc_b"),
        )
    )
    return cross.unionByName(internal).distinct()


def cdc_minhash_pairs(docs: DataFrame) -> DataFrame:
    """Document-level MinHash over CONTENT-DEFINED chunks: the chunk hashes
    (operators/textops.cdc_chunks) replace word shingles as the set whose
    Jaccard similarity MinHash estimates.

    Why a CDC variant: fixed shingles shift under insertion — every shingle
    downstream of an edit changes — while CDC boundaries re-synchronize a
    few tokens after the edit, so two documents differing by one inserted
    sentence still share most chunk hashes. The classic rsync/LBFS trick
    applied to corpus near-dup detection.

    Physical shape: identical to :func:`lsh_candidate_pairs` after the set
    build — per-row chunk fold (shuffle-free), groupBy-min signatures
    (map-side combined, shuffle O(docs)), literal-array band explode,
    bucketed pair combinatorics. Nothing quadratic.
    """
    from realtime_datawarehouse_spark.operators.textops import cdc_chunks

    ch = cdc_chunks(docs).select(
        "doc_id", hash64(F.col("chunk_hash")).alias("h")
    )
    sig = ch.groupBy("doc_id").agg(*minhash_signature(F.col("h"), NUM_PERM))
    return _band_pairs(sig)


def cdc_minhash_pairs_oracle() -> str:
    from realtime_datawarehouse_spark.operators.textops import (
        cdc_chunks_oracle,
    )

    params = permutation_params(NUM_PERM)
    min_exprs = ",\n         ".join(
        f"min({minhash_perm_sql('h', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = []
    for b in range(BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sig"
        )
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
WITH chunks AS (
  {cdc_chunks_oracle()}
), h AS (
  SELECT doc_id, {hash64_sql('chunk_hash')} AS h FROM chunks
), sig AS (
  SELECT doc_id,
         {min_exprs}
  FROM h GROUP BY doc_id
), bands AS (
  {bands_sql}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
"""


SIMHASH_BITS = 32


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash fingerprint per document over distinct tokens.

    Per bit i: majority vote of (bit_i(token_hash) ? +1 : -1); fingerprint
    packs the positive bits. One explode + one groupBy — the 32 bit-sums are
    a single wide aggregation, map-side combined.
    """
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize(text_col))).alias("tok")
    )
    h = toks.select("doc_id", hash64(F.col("tok")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    sig = h.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return sig.select("doc_id", fp.alias("simhash"))


def simhash_oracle() -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS tok
  FROM documents
), h AS (
  SELECT doc_id, {hash64_sql('tok')} AS h FROM toks
), sig AS (
  SELECT doc_id,
         {bit_sums}
  FROM h GROUP BY doc_id
)
SELECT doc_id, {fp} AS simhash FROM sig
"""


def minhash_jaccard_estimate(docs: DataFrame) -> DataFrame:
    """Estimated Jaccard for each LSH candidate pair: the fraction of equal
    MinHash components — the unbiased estimator that makes signatures a
    sufficient statistic (the full shingle sets are never revisited; at
    scale only the O(docs)-sized signature table joins, not the corpus)."""
    sig = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(docs)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_PERM)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_PERM)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(NUM_PERM)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            pround(matches / F.lit(float(NUM_PERM)), 4).alias("est_jaccard"),
        )
    )


def minhash_jaccard_estimate_oracle() -> str:
    params = permutation_params(NUM_PERM)
    min_exprs = ",\n         ".join(
        f"min({minhash_perm_sql('h', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = []
    for b in range(BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sig"
        )
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    matches = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_PERM)
    )
    return (
        SHINGLE_CTE
        + f"""
, h AS (
  SELECT doc_id, {hash64_sql('s')} AS h FROM e
), sig AS (
  SELECT doc_id,
         {min_exprs}
  FROM h GROUP BY doc_id
), bands AS (
  {bands_sql}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       {pround_sql(f'({matches}) * 1.0 / {NUM_PERM}', 4)} AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
"""
    )


# --------------------------------------------------------------------------
# Benchmark decontamination: flag training documents sharing any word
# n-gram with an evaluation/benchmark set — the n-gram-overlap filter every
# LLM training pipeline runs before training (the eval set must not leak
# into the corpus). Same shingle machinery as the dedup family.
# --------------------------------------------------------------------------

DECON_N = 4


def _shingle_hashes_n(docs: DataFrame, n: int, extra_cols: list[str]):
    """(…extra_cols, h): distinct n-word shingle hashes per doc (general-n
    variant of doc_shingle_hashes; same rebalance + no-prefilter rules)."""
    docs = rebalance_narrow_scan(docs)
    with_sh = docs.select(
        *extra_cols,
        F.array_distinct(word_shingles(tokenize("text"), n)).alias("sh"),
    )
    return with_sh.select(
        *extra_cols, F.explode("sh").alias("s")
    ).select(*extra_cols, hash64(F.col("s")).alias("h"))


def ngram_decontaminate(
    docs: DataFrame, eval_source: str = "src0", n: int = DECON_N
) -> DataFrame:
    """(doc_id, overlap_ngrams) for every TRAINING doc sharing ≥1 n-gram
    with the eval set (docs whose source == eval_source).

    Scale shape: the eval set is benchmark data — MB-scale against a 100 TB
    corpus — so its distinct shingle hashes BROADCAST; the corpus is
    shingled in one scan and probes the broadcast set; the only shuffle is
    the final map-side-combined count per flagged doc. At larger eval sets
    the same plan degrades gracefully to a shuffled hash join on h.
    """
    e = _shingle_hashes_n(docs, n, ["doc_id", "source"])
    ev = (
        e.where(F.col("source") == eval_source).select("h").distinct()
    )
    train = e.where(F.col("source") != eval_source)
    return (
        train.join(F.broadcast(ev), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("overlap_ngrams"))
    )


def ngram_decontaminate_oracle(
    eval_source: str = "src0", n: int = DECON_N
) -> str:
    # joins on the same 60-bit hash as the Spark plan (collision parity)
    return f"""
WITH docs AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, len(toks) - {n - 2}),
             i -> list_aggregate(toks[i:i+{n - 1}], 'string_agg', ' '))) AS shingles
  FROM docs WHERE len(toks) >= {n}
), e AS (
  SELECT doc_id, source, {hash64_sql('unnest(shingles)')} AS h FROM sh
), ev AS (
  SELECT DISTINCT h FROM e WHERE source = '{eval_source}'
)
SELECT e.doc_id, count(*) AS overlap_ngrams
FROM e JOIN ev USING (h)
WHERE e.source <> '{eval_source}'
GROUP BY 1
"""


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    node_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """Label-propagation connected components over a candidate-pair graph:
    (node, component_id = min node reachable, is_keeper). The final stage
    of near-dup removal — LSH emits PAIRS, but dedup must drop one doc per
    CLUSTER, and clusters are the transitive closure of the pairs.

    Iterative min-label propagation: each round joins labels onto edges and
    takes the per-node min of (own label ∪ neighbor labels); converges in
    O(component diameter) rounds. Near-dup components are shallow (dup
    clusters are cliques or near-cliques from banding), so the bound is
    small in practice. Each round is one shuffle join + one groupBy-min —
    map-side combinable; results are persisted so round N+1 reads
    materialized labels, not the whole lineage. The driver sees only the
    convergence COUNTER, never data. At extreme diameters switch to the
    large-star/small-star formulation (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — same per-round shape.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .persist()
    )
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("label")
    ).persist()
    edges.count()  # materialize once; reused every round
    for _ in range(max_iters):
        prop = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        new = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            break
    # Materialize the projection with a lineage cut, then release BOTH
    # working caches (edges and the final labels generation). Without
    # this the last persisted `new` leaks cached blocks across
    # invocations; the localCheckpoint blocks are owned by the returned
    # DataFrame and reclaimed by the ContextCleaner when it goes out of
    # scope.
    result = labels.select(
        F.col("node").alias(node_col),
        F.col("label").alias("component_id"),
        F.when(F.col("label") == F.col("node"), 1)
        .otherwise(0)
        .alias("is_keeper"),
    ).localCheckpoint(eager=True)
    labels.unpersist()
    edges.unpersist()
    return result


def connected_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    node_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — the EXTREME-DIAMETER
    scale path promised in ``connected_components``'s docstring. Min-label
    propagation needs O(diameter) rounds; the star alternation contracts
    components in O(log² n) rounds regardless of diameter (each phase
    rewires whole neighborhoods to their local min, so paths halve instead
    of shrinking by one hop).

    Per round: large-star connects every strictly-larger neighbor of u to
    min(Γ(u) ∪ {u}); small-star orients edges (max → min) and connects each
    node's smaller neighborhood (plus itself) to its min. Both phases are
    one groupBy-min plus one join back over the current edge set — the
    same per-round physical shape as one label-propagation step, but the
    EDGE SET itself contracts toward stars, and intermediate edge counts
    never exceed the symmetric closure of the input (proved in the paper).

    Convergence is detected by an order-free edge-set checksum
    (count + bit_xor of per-edge hash64) — one tiny aggregate per round
    instead of a full set-difference anti-join; a missed detection would
    need a hash-sum collision between consecutive DIFFERENT edge sets
    (~2⁻⁶⁴, and one extra round is the only consequence). The driver sees
    checksums only, never data. Output contract matches
    ``connected_components``: (node, component_id = min reachable,
    is_keeper)."""
    # lineage is CUT each round (localCheckpoint, eager): one round's plan
    # references the prior edge set ~16× (sym/mins/oriented each re-expand
    # their inputs), so carrying logical lineage across rounds grows the
    # analyzed plan exponentially — persist alone does not truncate it.
    # GraphFrames' CC does the same per-round checkpoint; on a cluster use
    # a reliable checkpoint dir instead of local blocks.
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sum: tuple | None = None
    for _ in range(max_iters):
        # large-star over the symmetric view
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least(F.col("mv"), F.col("u"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the (max → min) orientation
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins_s = oriented.groupBy("u").agg(F.min("v").alias("mv"))
        rewired = oriented.join(mins_s, "u").select(
            F.col("v").alias("u"), F.col("mv").alias("v")
        )
        selfed = mins_s.select(F.col("u"), F.col("mv").alias("v"))
        new = (
            rewired.unionByName(selfed)
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        row = new.select(
            hash64(F.concat_ws(":", F.col("u"), F.col("v"))).alias("eh")
        ).agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(eh)").alias("h"),
        ).collect()[0]
        edges = new
        if (row.n, row.h) == prev_sum:
            break
        prev_sum = (row.n, row.h)
    # at the fixpoint every edge points child → component root (the min);
    # isolated nodes label themselves
    roots = edges.groupBy("u").agg(F.min("v").alias("root"))
    result = (
        nodes.select(F.col(node_col).alias("node"))
        .join(roots, F.col("node") == F.col("u"), "left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce(F.col("root"), F.col("node")).alias("component_id"),
            F.when(F.coalesce(F.col("root"), F.col("node")) == F.col("node"), 1)
            .otherwise(0)
            .alias("is_keeper"),
        )
        .localCheckpoint(eager=True)
    )
    # intermediate checkpoint blocks are released by the ContextCleaner once
    # their DataFrames go out of scope — nothing to unpersist explicitly
    return result


def connected_components_oracle() -> str:
    """Recursive-CTE transitive closure over the SAME LSH pair set: label =
    min reachable node. Quadratic in component size — fine as an oracle,
    never the engine plan."""
    return f"""
WITH RECURSIVE lshp AS (
{lsh_candidate_pairs_oracle()}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lshp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM lshp
), reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, min(dst) AS component_id,
       CASE WHEN min(dst) = src THEN 1 ELSE 0 END AS is_keeper
FROM reach GROUP BY 1
"""


# --------------------------------------------------------------------------
# Bloom-filter decontamination — the constant-memory scale path of
# ngram_decontaminate. At 100 TB the eval shingle set may be too large to
# broadcast as exact hashes (multi-benchmark suites run to billions of
# n-grams); a Bloom bit-array of m bits with k=2 hash functions is a
# fixed-size broadcast with a bounded, deterministic false-positive rate
# (~(s/m)^2 for s set bits). Both hash functions derive from the portable
# md5-based hash64, so the flagged set — INCLUDING the false positives —
# is identical in any engine: the approximation itself is oracle-checkable.
# --------------------------------------------------------------------------

BLOOM_M = 1 << 16  # bits in the filter
# k=2 hash functions come from ONE md5 evaluation (hash64_pair): hex chars
# 1-15 and 16-30 of the digest — half the digest cost of hashing twice.


def bloom_decontaminate(
    docs: DataFrame,
    eval_source: str = "src0",
    n: int = DECON_N,
    m: int = BLOOM_M,
) -> DataFrame:
    """(doc_id, bloom_hits): training docs with ≥1 Bloom-positive n-gram
    against the eval split's filter, with the count of positive shingles.

    Physical shape: the bit set (distinct positions, ≤ 2×|eval shingles|,
    hard-capped at ``m`` rows) broadcasts into TWO semi-joins — a shingle
    is positive only if BOTH its bit positions are set, exactly a k=2
    Bloom membership test. The corpus scans once; the only shuffle is the
    final per-doc count. In a pure-Spark deployment the positions table
    becomes an actual bitmap in a broadcast variable probed from a pandas
    UDF; the semi-join form keeps the hot path in codegen and its
    semantics engine-portable.
    """
    docs = rebalance_narrow_scan(docs)
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(word_shingles(tokenize("text"), n))
        ).alias("s"),
    )
    h1, h2 = hash64_pair(F.col("s"))
    pos = sh.select(
        "doc_id",
        "source",
        F.pmod(h1, F.lit(m)).alias("p1"),
        F.pmod(h2, F.lit(m)).alias("p2"),
    )
    bits = (
        pos.where(F.col("source") == eval_source)
        .select(F.explode(F.array("p1", "p2")).alias("bit"))
        .distinct()
    )
    train = pos.where(F.col("source") != eval_source)
    return (
        train.join(
            F.broadcast(bits.select(F.col("bit").alias("p1"))),
            "p1",
            "left_semi",
        )
        .join(
            F.broadcast(bits.select(F.col("bit").alias("p2"))),
            "p2",
            "left_semi",
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("bloom_hits"))
    )


def bloom_decontaminate_oracle(
    eval_source: str = "src0", n: int = DECON_N, m: int = BLOOM_M
) -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, len(toks) - {n - 2}),
             i -> list_aggregate(toks[i:i+{n - 1}], 'string_agg', ' '))) AS shingles
  FROM docs WHERE len(toks) >= {n}
), s AS (
  SELECT doc_id, source, unnest(shingles) AS s FROM sh
), pos AS (
  SELECT doc_id, source,
         {hash64_pair_sql('s')[0]} % {m} AS p1,
         {hash64_pair_sql('s')[1]} % {m} AS p2
  FROM s
), bits AS (
  SELECT DISTINCT bit
  FROM (SELECT unnest([p1, p2]) AS bit FROM pos WHERE source = '{eval_source}')
)
SELECT doc_id, count(*) AS bloom_hits
FROM pos
WHERE source <> '{eval_source}'
  AND p1 IN (SELECT bit FROM bits)
  AND p2 IN (SELECT bit FROM bits)
GROUP BY 1
"""


# τ_eff for prefix-filter candidate generation: the registered queries
# compare pround(jaccard, 4) >= 0.8, which admits true J down to 0.79995
# (floor(J*1e4+0.5) >= 8000  ⟺  J >= 0.79995). Candidate generation must
# therefore be lossless down to 15999/20000, not 4/5 — else a pair whose
# exact Jaccard rounds UP into the threshold could be pruned and the
# output would diverge from the exact-pairs oracle.
_PF_NUM = 15_999
_PF_DEN = 20_000


def jaccard_prefix_filter_pairs(
    docs: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin family:
    Bayardo et al. WWW'07, Xiao et al. WWW'08) — same output as
    ``ngram_jaccard_pairs``, asymptotically smaller candidate stage.

    Principle: order every document's shingles by global document
    frequency ascending (rarest first; ties by hash — a total order both
    engines reproduce). If J(A,B) ≥ τ then |A∩B| ≥ τ/(1+τ)·(|A|+|B|) ≥
    τ·|A|, so the first ``|A| − ⌈τ·|A|⌉ + 1`` tokens of A and of B must
    share at least one token. Only those prefixes are indexed: for τ=0.8
    the inverted index shrinks ~5×, and — because prefixes hold the
    RAREST tokens — hot shingles (the quadratic pair-explosion risk the
    df-cap guards against in ``ngram_jaccard_pairs``) fall outside every
    prefix, so their posting lists never materialize at all. Candidates
    then verify EXACTLY against full shingle-hash sets, so the pruning is
    lossless: the oracle is the same exact-pairs SQL.

    Scale shape: one df join on the int64 shingle hash (O(shingles) map
    side), one per-doc regroup, prefix-only posting lists (the pair
    combinatorics run over ~(1−τ)·n tokens per doc), then a pair-keyed
    verification join carrying each doc's hash array once. The length
    filter (τ·max(n) ≤ min(n)) and the r14 POSITIONAL filter (see
    ``_pf_candidates``) drop candidates before the verify join ships any
    array.
    """
    sets = _pf_sets(docs)
    cand = _pf_candidates(sets, positional=True)
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    v = cand.join(a.hint("shuffle_hash"), "doc_a").join(
        b.hint("shuffle_hash"), "doc_b"
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return (
        v.withColumn("jaccard", pround(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _pf_sets(docs: DataFrame) -> DataFrame:
    """Per-doc frequency-ordered shingle-hash arrays + prefix length:
    (doc_id, n, hs sorted by global (df, h) order, p = n − ⌈τ_eff·n⌉ + 1)."""
    e = doc_shingle_hashes(docs)
    dfreq = e.groupBy("h").agg(F.count("*").alias("df"))
    # both sides are corpus-scale: a shuffle is inevitable, but hash-join
    # beats sort-merge on a high-cardinality int64 key (no sort phase;
    # the df side is the smaller build side)
    ej = e.join(dfreq.hint("shuffle_hash"), "h")
    sets = ej.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct(F.col("df"), F.col("h")))).alias(
            "ord"
        ),
        F.first("n").alias("n"),
    )
    # integer-exact prefix length: p = n − ⌈τ_eff·n⌉ + 1
    ceil_tn = F.floor(
        (F.lit(_PF_NUM) * F.col("n") + F.lit(_PF_DEN - 1)) / F.lit(_PF_DEN)
    )
    return sets.select(
        "doc_id",
        "n",
        F.transform("ord", lambda x: x["h"]).alias("hs"),
        (F.col("n") - ceil_tn + F.lit(1)).cast("int").alias("p"),
    )


def _pf_candidates(sets: DataFrame, positional: bool = True) -> DataFrame:
    """Candidate pairs (doc_a, doc_b, na, nb) from the prefix inverted
    index, pruned by the length filter and (``positional=True``) the
    positional filter. ``positional=False`` keeps the pre-r14 length-only
    form — exercised by the equality/pruning pin test."""
    pre = sets.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("hs", F.lit(1), F.col("p"))).alias("pos", "h"),
    ).select("doc_id", "n", (F.col("pos") + F.lit(1)).alias("i"), "h")
    inv = pre.groupBy("h").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("doc_id"), F.col("n"), F.col("i")))
        ).alias("members")
    )
    inv = inv.where(F.size("members") >= 2)
    # POSITIONAL prefix filter (r14; PPJoin, Xiao et al. WWW'08 §3.2,
    # made integer-exact for τ_eff): prefixes are sorted by the global
    # (df, h) token order, so for a pair's FIRST common prefix token at
    # 1-based positions (i*, j*) no earlier token of either doc can be
    # common at all (an earlier common token would sit in both prefixes
    # and precede it), hence overlap ≤ 1 + min(na−i*, nb−j*); dually,
    # every common token ordered before the LAST common prefix token
    # (i_max, j_max) is itself a common prefix token, hence overlap ≤
    # c + min(na−i_max, nb−j_max) with c = the observed match count.
    # J ≥ τ_eff forces overlap·(NUM+DEN) ≥ NUM·(na+nb); candidates whose
    # bound fails are provably below threshold, so the prune is lossless
    # and the exact-pairs oracle is unchanged. This drops candidate pairs
    # BEFORE the verify join ships any hash array — the §2.3 "shuffle
    # fewer bytes" lever on the one remaining quadratic-risk stage.
    cand = (
        inv.select(
            F.explode(_pairs_from_sorted_members(F.col("members"))).alias("p")
        )
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.n").alias("na"),
            F.col("p.b.n").alias("nb"),
            F.col("p.a.i").alias("ia"),
            F.col("p.b.i").alias("ib"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
            F.min("ia").alias("ia_min"),
            F.min("ib").alias("ib_min"),
            F.max("ia").alias("ia_max"),
            F.max("ib").alias("ib_max"),
            F.count("*").alias("c"),
        )
    )
    # length filter: J ≥ τ ⇒ τ·max ≤ min (integer-exact with τ_eff)
    cand = cand.where(
        F.lit(_PF_NUM) * F.greatest("na", "nb")
        <= F.lit(_PF_DEN) * F.least("na", "nb")
    )
    if not positional:
        return cand.select("doc_a", "doc_b", "na", "nb")
    ub = F.least(
        F.lit(1)
        + F.least(
            F.col("na") - F.col("ia_min"), F.col("nb") - F.col("ib_min")
        ),
        F.col("c")
        + F.least(
            F.col("na") - F.col("ia_max"), F.col("nb") - F.col("ib_max")
        ),
    )
    return cand.where(
        ub * F.lit(_PF_NUM + _PF_DEN)
        >= F.lit(_PF_NUM) * (F.col("na") + F.col("nb"))
    ).select("doc_a", "doc_b", "na", "nb")


def fuzzy_name_pairs(
    names: DataFrame, name_col: str = "name", max_dist: int = 2
) -> DataFrame:
    """Entity-resolution fuzzy self-join: distinct string pairs within
    Levenshtein distance ``max_dist`` — the dedup primitive behind
    catalog/vendor-name matching.

    Scale shape (Gravano et al. q-gram filtering): a naive form is an
    O(n²) cross join with a DP per pair; here candidates come from a
    positional-free q-gram (q=2) inverted index with the COUNT FILTER —
    ed(a,b) ≤ k implies the bigram MULTISETS share ≥ max(len)−1−k·q
    grams (each edit destroys ≤ q grams) — so only pairs passing that
    integer bound reach the Levenshtein verify. Multiset intersection is
    exact: per-(name, gram) occurrence counts ride the inverted index
    and each shared gram contributes min(ca, cb). Hot grams are naturally
    rare in name data; a df-cap (as in ``ngram_jaccard_pairs``) slots in
    for adversarial distributions. Both engines run the identical
    unit-cost Levenshtein, so the verify is engine-exact.
    """
    base = names.select(F.col(name_col).alias("nm")).distinct()
    g = base.select(
        "nm",
        F.length("nm").alias("ln"),
        F.explode(
            F.expr("transform(sequence(1, length(nm) - 1), i -> substring(nm, i, 2))")
        ).alias("g"),
    )
    per = g.groupBy("nm", "ln", "g").agg(F.count("*").alias("c"))
    inv = per.groupBy("g").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("nm"), F.col("ln"), F.col("c")))
        ).alias("members")
    )
    inv = inv.where(F.size("members") >= 2)
    pairs = inv.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("members"),
                    lambda x, i: F.transform(
                        F.slice(F.col("members"), i + 2, F.size("members")),
                        lambda y: F.struct(
                            x["nm"].alias("na"),
                            y["nm"].alias("nb"),
                            x["ln"].alias("la"),
                            y["ln"].alias("lb"),
                            F.least(x["c"], y["c"]).alias("m"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.na", "p.nb", "p.la", "p.lb", "p.m")
    cand = pairs.groupBy("na", "nb").agg(
        F.sum("m").alias("inter"),
        F.first("la").alias("la"),
        F.first("lb").alias("lb"),
    )
    bound = F.greatest("la", "lb") - F.lit(1) - F.lit(2 * max_dist)
    cand = cand.where(F.col("inter") >= bound)
    dist = F.levenshtein(F.col("na"), F.col("nb"))
    return (
        cand.withColumn("edit_dist", dist)
        .where(F.col("edit_dist") <= max_dist)
        .select(
            F.col("na").alias("name_a"),
            F.col("nb").alias("name_b"),
            "edit_dist",
        )
    )
