"""Text-analysis operators: token counting, quality scoring, language ID,
document fingerprinting (training-data-pipeline extensions).

All builtin-expression compositions over the tokenizer (functions/text.py);
each has an exact DuckDB oracle. Per-document work is embarrassingly
parallel — no shuffles at all except the final optional aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from realtime_datawarehouse_spark.functions.compare import pround, pround_sql
from realtime_datawarehouse_spark.functions.hashing import hash64, hash64_sql
from realtime_datawarehouse_spark.functions.text import STOPWORDS, tokenize

# Rolling-hash modulus: acc < 2^31 keeps (acc*31 + h60) < 2^61 — no int64
# overflow on either engine (Spark runs ANSI mode; overflow would throw).
FP_MOD = 2_147_483_647

# Marker vocabularies for the language-ID heuristic. Deterministic and tiny
# on purpose: the operator under test is "score tokens against marker sets,
# argmax with a fixed precedence", not linguistics.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "das"),
    "es": ("el", "los", "una"),
}


def _stop_in(tok: Column) -> Column:
    return tok.isin(*STOPWORDS)


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks —
# the GPT-2-style segmentation boundary (without the merges table), in a
# regex subset portable between Java (Spark) and RE2 (DuckDB)
BPE_ISH_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, token_ct, bpe_ish_ct, char_ct): whitespace token count, the
    BPE-ish pre-token count (the better LLM-cost proxy — punctuation and
    digit runs count as their own tokens), and character length."""
    from realtime_datawarehouse_spark.operators import layout
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: LIGHT per-row map work — bytes-gated narrow-scan redistribution
    # (engages at sf1-class narrow inputs, stays out of the way below the
    # crossover; no-op on wide scans — OPTIMIZATION_r14.md §11).
    docs = rebalance_narrow_scan(
        docs, min_bytes=layout.REBALANCE_LIGHT_MIN_BYTES
    )
    toks = tokenize(text_col)
    bpe = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_ISH_RE), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("token_ct"),
        F.size(bpe).alias("bpe_ish_ct"),
        F.length(F.col(text_col)).alias("char_ct"),
    )


TOKEN_STATS_ORACLE = f"""
SELECT doc_id,
       len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token_ct,
       len(regexp_extract_all(lower(text), '{BPE_ISH_RE}')) AS bpe_ish_ct,
       length(text) AS char_ct
FROM documents
"""


def quality_keep(text_col: str = "text") -> Column:
    """The composite keep/drop flag as a bare column expression (narrow,
    stream-safe — usable inside a streaming select without a self-join)."""
    toks = tokenize(text_col)
    token_ct = F.size(toks)
    stop_ct = F.size(F.filter(toks, _stop_in))
    stop_ratio = pround(stop_ct.cast("double") / token_ct, 4)
    return F.when((token_ct >= 20) & (stop_ratio <= 0.5), 1).otherwise(0)


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals: token count, stopword ratio, mean token
    length, and a composite keep/drop flag — the standard cheap pre-filter
    stage of a corpus pipeline."""
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: CPU-amplifying map work over the raw scan — parallelize a
    # narrow (few-row-group) input first; no-op on wide scans
    # (OPTIMIZATION_r14.md §9/§11).
    docs = rebalance_narrow_scan(docs)
    toks = tokenize(text_col)
    token_ct = F.size(toks)
    stop_ct = F.size(F.filter(toks, _stop_in))
    char_sum = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, b: a + b
    )
    stop_ratio = pround(stop_ct.cast("double") / token_ct, 4)
    avg_len = pround(char_sum.cast("double") / token_ct, 2)
    return docs.select(
        "doc_id",
        token_ct.alias("token_ct"),
        stop_ct.alias("stopword_ct"),
        stop_ratio.alias("stopword_ratio"),
        avg_len.alias("avg_token_len"),
        quality_keep(text_col).alias("keep"),
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

_RATIO = pround_sql('stopword_ct * 1.0 / token_ct', 4)

QUALITY_SCORE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS token_ct,
         len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS stopword_ct,
         list_sum(list_transform(toks, x -> length(x))) AS char_sum
  FROM t
)
SELECT doc_id, token_ct, stopword_ct,
       {_RATIO} AS stopword_ratio,
       {pround_sql('char_sum * 1.0 / token_ct', 2)}    AS avg_token_len,
       CASE WHEN token_ct >= 20 AND {_RATIO} <= 0.5
            THEN 1 ELSE 0 END AS keep
FROM m
"""


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language ID with fixed precedence en > de > es."""
    from realtime_datawarehouse_spark.operators import layout
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: LIGHT per-row map work — bytes-gated narrow-scan redistribution
    # (engages at sf1-class narrow inputs, stays out of the way below the
    # crossover; no-op on wide scans — OPTIMIZATION_r14.md §11).
    docs = rebalance_narrow_scan(
        docs, min_bytes=layout.REBALANCE_LIGHT_MIN_BYTES
    )
    toks = tokenize(text_col)

    def marker_filter(markers: tuple[str, ...]):
        # single-arg lambda factory: F.filter treats two-parameter lambdas
        # as (element, index), so defaults can't be used to close over markers
        return lambda t: t.isin(*markers)

    scores = {
        lang: F.size(F.filter(toks, marker_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    pred = (
        F.when(
            (scores["en"] >= scores["de"]) & (scores["en"] >= scores["es"]), "en"
        )
        .when(scores["de"] >= scores["es"], "de")
        .otherwise("es")
    )
    return docs.select(
        "doc_id",
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        scores["es"].alias("score_es"),
        pred.alias("predicted_lang"),
        F.col("lang").alias("labeled_lang"),
    )


def _markers_sql(lang: str) -> str:
    return ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])


LANG_ID_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, lang,
         len(list_filter(toks, x -> x IN ({_markers_sql('en')}))) AS score_en,
         len(list_filter(toks, x -> x IN ({_markers_sql('de')}))) AS score_de,
         len(list_filter(toks, x -> x IN ({_markers_sql('es')}))) AS score_es
  FROM t
)
SELECT doc_id, score_en, score_de, score_es,
       CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
            WHEN score_de >= score_es THEN 'de'
            ELSE 'es' END AS predicted_lang,
       lang AS labeled_lang
FROM s
"""


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint:
    fold((acc*31 + hash64(token)) mod FP_MOD) over the token sequence."""
    from realtime_datawarehouse_spark.operators import layout
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: LIGHT per-row map work — bytes-gated narrow-scan redistribution
    # (engages at sf1-class narrow inputs, stays out of the way below the
    # crossover; no-op on wide scans — OPTIMIZATION_r14.md §11).
    docs = rebalance_narrow_scan(
        docs, min_bytes=layout.REBALANCE_LIGHT_MIN_BYTES
    )
    toks = tokenize(text_col)
    hashes = F.transform(toks, lambda t: hash64(t))
    fp = F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % FP_MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


FINGERPRINT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), h AS (
  SELECT doc_id,
         list_transform(toks, x -> {hash64_sql('x')}) AS hashes
  FROM t
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), hashes),
                   (acc, h) -> (acc * 31 + h) % {FP_MOD}) AS fingerprint
FROM h
"""


def tokenize_explode_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """U1 analog: tokenize + explode (≡ LATERAL TABLE(ik_analyze(...))) then
    count per keyword (rt/app/func/KeywordUDTF.java:14-22 +
    rt/app/dws/DwsTrafficSourceKeywordPageViewWindow.java:55-69)."""
    from realtime_datawarehouse_spark.operators import layout
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: LIGHT per-row map work — redistribute a narrow scan only when
    # the input is big enough that serial map time beats the one-time
    # shuffle (bytes-gated; measured crossover in OPTIMIZATION_r14.md
    # §11). No-op on wide scans at any size.
    docs = rebalance_narrow_scan(
        docs, min_bytes=layout.REBALANCE_LIGHT_MIN_BYTES
    )
    return (
        docs.select(F.explode(tokenize(text_col)).alias("keyword"))
        .groupBy("keyword")
        .agg(F.count("*").alias("keyword_count"))
    )


TOKENIZE_EXPLODE_COUNT_ORACLE = """
WITH t AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS keyword
  FROM documents
)
SELECT keyword, count(*) AS keyword_count FROM t GROUP BY 1
"""


# --------------------------------------------------------------------------
# Corpus mixing: deterministic hash-based sampling + integer upsampling.
# The data-mixture stage of a training pipeline: per-stratum (language)
# keep-rates and repeat factors. Hash-based sampling (not rand()) so every
# engine/run selects the identical subset — reproducible mixtures at 100 TB
# and an exact SQL oracle.
# --------------------------------------------------------------------------

SAMPLE_MOD = 10_000


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row iff hash(key) % MOD < rate(stratum) * MOD.

    Deterministic in the key — adding/removing other rows never flips a
    decision (stable under re-partitioning and incremental reruns).
    """
    bucket = F.pmod(hash64(F.col(key_col).cast("string")), F.lit(SAMPLE_MOD))
    rate = None
    for stratum, r in rates.items():
        thr = int(r * SAMPLE_MOD)
        cond = F.col(stratum_col) == stratum
        rate = F.when(cond, thr) if rate is None else rate.when(cond, thr)
    rate = rate.otherwise(int(default_rate * SAMPLE_MOD))
    return docs.where(bucket < rate)


def stratified_sample_oracle(
    rates: dict[str, float], default_rate: float = 0.0
) -> str:
    cases = " ".join(
        f"WHEN lang = '{s}' THEN {int(r * SAMPLE_MOD)}" for s, r in rates.items()
    )
    return f"""
SELECT doc_id, lang
FROM documents
WHERE {hash64_sql('CAST(doc_id AS VARCHAR)')} % {SAMPLE_MOD}
      < (CASE {cases} ELSE {int(default_rate * SAMPLE_MOD)} END)
"""


def upsample_repeat(
    docs: DataFrame,
    repeats: dict[str, int],
    stratum_col: str = "lang",
) -> DataFrame:
    """Integer upsampling: emit each row ``repeats[stratum]`` times with an
    ``epoch`` index (0..k-1) — the standard multi-epoch data-mixture trick,
    as a single explode (no unions, one scan)."""
    k = None
    for stratum, r in repeats.items():
        cond = F.col(stratum_col) == stratum
        k = F.when(cond, r) if k is None else k.when(cond, r)
    k = k.otherwise(1)
    return docs.select(
        "doc_id",
        F.col(stratum_col),
        F.explode(F.sequence(F.lit(0), k - 1)).alias("epoch"),
    )


def upsample_repeat_oracle(repeats: dict[str, int]) -> str:
    cases = " ".join(
        f"WHEN lang = '{s}' THEN {r}" for s, r in repeats.items()
    )
    return f"""
SELECT doc_id, lang, CAST(g.e AS INT) AS epoch
FROM documents,
     LATERAL (SELECT unnest(range(0, CASE {cases} ELSE 1 END)) AS e) g
"""


# ---------------------------------------------------------------------------
# Repetition signals (the Gopher-rules family: "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Rae et al. 2021, §A1.1
# — repetitious documents are low-quality training data) and PII redaction.
# ---------------------------------------------------------------------------


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition metrics: duplicate-word fraction
    (1 - distinct/total tokens) and top-bigram coverage (share of all
    bigrams taken by the single most frequent one).

    Scale shape: ENTIRELY per-row — no shuffle anywhere. The bigram mode
    is the max run length of the SORTED per-doc bigram array, computed as
    one codegen'd fold (``aggregate`` over ``array_sort``); the earlier
    formulation exploded bigrams through a two-level aggregation plus a
    join back (two exchanges over ~|tokens| rows) for the same number.
    Measured 1.2 s → map-stage-only at bench sf0.1.
    """
    from realtime_datawarehouse_spark.functions.text import word_shingles
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # the bigram build is a CPU amplifier over a (typically) narrow
    # single-row-group scan — widen first (no-op on already-wide scans)
    docs = rebalance_narrow_scan(docs)
    toks = tokenize(text_col)
    base = docs.select(
        "doc_id",
        F.size(toks).alias("token_ct"),
        F.size(F.array_distinct(toks)).alias("uniq_ct"),
        word_shingles(toks, 2).alias("bigrams"),
    )
    # max run length over the sorted array ≡ count of the modal bigram.
    # Invariant the "" sentinel relies on: tokenize() drops empty tokens, so
    # no bigram can ever equal "" ("a b" is the minimum) — the seed cannot
    # collide with a real element and start a run at 2.
    top_cnt = F.aggregate(
        F.array_sort(F.col("bigrams")),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(1).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(1),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    dup_frac = pround(
        (F.col("token_ct") - F.col("uniq_ct")).cast("double")
        / F.col("token_ct"),
        4,
    )
    big_ct = F.size(F.col("bigrams"))
    top_frac = F.when(
        big_ct > 0,
        pround(top_cnt.cast("double") / big_ct.cast("double"), 4),
    ).otherwise(F.lit(0.0))
    return base.select(
        "doc_id",
        "token_ct",
        dup_frac.alias("dup_word_frac"),
        top_frac.alias("top_bigram_frac"),
    )


REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), m AS (
  SELECT doc_id, len(toks) AS token_ct, len(list_distinct(toks)) AS uniq_ct,
         -- DuckDB slices are INCLUSIVE: [:-1] keeps the last element, which
         -- would make list_zip null-pad an extra phantom bigram
         list_transform(list_zip(toks[:len(toks) - 1], toks[2:]),
                        x -> x[1] || ' ' || x[2]) AS bigrams
  FROM t
), e AS (
  SELECT doc_id, unnest(bigrams) AS bg FROM m
), c AS (
  SELECT doc_id, bg, count(*) AS cnt FROM e GROUP BY 1, 2
), top AS (
  SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS big_ct FROM c GROUP BY 1
)
SELECT m.doc_id AS doc_id, m.token_ct AS token_ct,
       {pround_sql('(m.token_ct - m.uniq_ct) * 1.0 / m.token_ct', 4)}
         AS dup_word_frac,
       {pround_sql('coalesce(top.top_cnt * 1.0 / top.big_ct, 0.0)', 4)}
         AS top_bigram_frac
FROM m LEFT JOIN top ON top.doc_id = m.doc_id
"""


# Regex subset shared by Java (Spark) and RE2 (DuckDB): no \\d, no
# lookaround, explicit character classes only.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "\\+?[0-9][0-9 ()-]{6,}[0-9]"


def pii_redact(
    docs: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Replace emails and phone numbers with <EMAIL>/<PHONE> placeholders
    and count what was removed — the standard pre-training PII scrub pass.
    Pure per-row builtin expressions (regexp_replace / regexp_extract_all):
    no shuffle, stays in whole-stage codegen, streams unchanged."""
    c = F.col(text_col)
    emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0)))
    no_email = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    phones = F.size(
        F.regexp_extract_all(no_email, F.lit(PHONE_RE), F.lit(0))
    )
    return docs.select(
        "doc_id",
        emails.alias("email_ct"),
        phones.alias("phone_ct"),
        F.regexp_replace(no_email, PHONE_RE, "<PHONE>").alias(out_col),
    )


# ---------------------------------------------------------------------------
# Unigram language-model scoring — the cheap statistical quality signal
# (CCNet-style: docs whose tokens are improbable under a corpus LM are
# flagged; Wenzek et al. 2019 use a 5-gram KenLM, the unigram form is the
# distributed-friendly first rung).
# ---------------------------------------------------------------------------

LM_VOCAB_SIZE = 20  # top-V corpus vocabulary; out-of-vocab smooths to count 1


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = LM_VOCAB_SIZE,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus unigram
    LM, restricted to a broadcast top-``vocab_size`` vocabulary (OOV tokens
    smooth to count 1).

    Scale shape: one explode feeds BOTH the vocabulary count (map-side
    combined, shuffle = distinct tokens) and the scoring join; the vocab
    and the grand-total are tiny aggregates broadcast to the scorers — the
    corpus rows never shuffle for the join. The per-token ``-ln p`` terms
    are 1e-6-quantized before summing (the dsum discipline, compare.py) so
    the mean is order-free.

    Cross-engine caveat: the quantization happens AFTER a transcendental,
    so it assumes JVM and DuckDB libm agree on ``ln`` to within the
    distance of the nearest ``x.5`` bucket boundary (~1e-9 absolute here;
    libm implementations agree to ~1 ulp, orders of magnitude tighter,
    but it is agreement-in-practice, not bit-identity by construction —
    unlike every non-transcendental oracle in this repo). A production
    deployment that needs hard reproducibility should materialize the
    per-token terms once from a single engine into the broadcast vocab
    table; the static-SQL oracle contract here cannot inject
    data-dependent literals, so the libm-agreement assumption is accepted
    and documented instead.
    """
    from realtime_datawarehouse_spark.operators import layout
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: LIGHT per-row map work — redistribute a narrow scan only when
    # the input is big enough that serial map time beats the one-time
    # shuffle (bytes-gated; measured crossover in OPTIMIZATION_r14.md
    # §11). No-op on wide scans at any size.
    docs = rebalance_narrow_scan(
        docs, min_bytes=layout.REBALANCE_LIGHT_MIN_BYTES
    )
    toks = docs.select("doc_id", F.explode(tokenize(text_col)).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    vocab = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(vocab_size)
    term = F.floor(
        -F.log(F.col("cnt").cast("double") / F.col("total"))
        * F.lit(1_000_000)
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(1)))
        .crossJoin(F.broadcast(total))
        .select("doc_id", term.alias("t6"), (F.col("cnt") == 1).alias("oov"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("t6").alias("s6"),
        F.count("*").alias("n"),
        F.sum(F.when(F.col("oov"), 1).otherwise(0)).alias("oov_ct"),
    )
    avg6 = F.col("s6").cast("double") / (
        F.col("n").cast("double") * F.lit(1_000_000.0)
    )
    return agg.select(
        "doc_id",
        (F.floor(avg6 * F.lit(10_000) + F.lit(0.5)) / F.lit(10_000.0)).alias(
            "avg_neg_logp"
        ),
        "oov_ct",
    )


UNIGRAM_LOGPROB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS tok
  FROM documents
), counts AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY 1
), total AS (
  SELECT sum(cnt) AS total FROM counts
), vocab AS (
  SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok ASC LIMIT {LM_VOCAB_SIZE}
), scored AS (
  SELECT t.doc_id,
         CAST(floor(-ln(coalesce(v.cnt, 1) * 1.0 / total.total) * 1000000
                    + 0.5) AS BIGINT) AS t6,
         (coalesce(v.cnt, 1) = 1) AS oov
  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok CROSS JOIN total
)
SELECT doc_id,
       floor(CAST(sum(t6) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0)
             * 10000 + 0.5) / 10000.0 AS avg_neg_logp,
       CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS oov_ct
FROM scored
GROUP BY 1
"""


# Conditional bigram LM: same perplexity-filter family as unigram_logprob
# (CCNet scores docs under a KenLM; the unigram form captures vocabulary
# fit, this bigram form additionally captures local word order). Vocab is
# the broadcast top-B corpus bigrams with their exact context totals, so
# p(w2|w1) = cnt(w1 w2) / cnt(w1 ·) is an exact conditional; OOV bigrams
# back off to the uniform floor 1/total_bigrams.
BIGRAM_VOCAB_SIZE = 40


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = BIGRAM_VOCAB_SIZE,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus bigram
    LM restricted to a broadcast top-``vocab_size`` bigram table; bigrams
    outside it score the uniform backoff ``-ln(1/total_bigrams)``.

    Scale shape: ONE bigram explode feeds both the model build and the
    scoring join. The build shuffles only distinct bigrams (map-side
    combined); the context totals are a second tiny aggregate OVER THE
    COUNTS (not the corpus); the ≤``vocab_size``-row model and the scalar
    grand total broadcast to the scorers, so corpus rows never shuffle for
    the join — the only corpus-sized exchange is the final doc_id
    aggregation. Per-token ``-ln p`` terms are 1e-6-quantized int64 before
    summing (dsum discipline) so the mean is order-free; the same
    libm-ln-agreement caveat as ``unigram_logprob`` applies (and the same
    production fix: materialize the tiny model table once from one engine).
    Documents with fewer than two tokens produce no bigrams and are absent
    from the output on both engines.
    """
    from realtime_datawarehouse_spark.functions.text import word_shingles
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: the tokenize+bigram explode is this query's CPU center and ran
    # at the SCAN's parallelism — a single-row-group documents file fed it
    # one task no matter the core count (measured at sf1: 7.3 s at 32c ≈
    # 7.2 s at 8c — zero parallel speedup). No-op on wide scans.
    docs = rebalance_narrow_scan(docs)
    bgs = docs.select(
        "doc_id", F.explode(word_shingles(tokenize(text_col), 2)).alias("bg")
    )
    counts = bgs.groupBy("bg").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    # context totals as a window OVER THE COUNTS (|distinct bigrams| rows,
    # partitioned by first word) — not a separate corpus-scanning subtree:
    # Catalyst cannot dedupe repeated aggregate subtrees, so deriving ctx
    # from a second groupBy over `counts` would re-scan the corpus
    wctx = Window.partitionBy(F.substring_index(F.col("bg"), " ", 1))
    vocab = (
        counts.withColumn("ctx_cnt", F.sum("cnt").over(wctx))
        .orderBy(F.desc("cnt"), F.asc("bg"))
        .limit(vocab_size)
        .select("bg", "cnt", "ctx_cnt")
    )
    term = F.floor(
        -F.log(
            F.when(
                F.col("cnt").isNotNull(),
                F.col("cnt").cast("double") / F.col("ctx_cnt"),
            ).otherwise(F.lit(1.0) / F.col("total"))
        )
        * F.lit(1_000_000)
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        bgs.join(F.broadcast(vocab), "bg", "left")
        .crossJoin(F.broadcast(total))
        .select("doc_id", term.alias("t6"), F.col("cnt").isNull().alias("oov"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("t6").alias("s6"),
        F.count("*").alias("n"),
        F.sum(F.when(F.col("oov"), 1).otherwise(0)).alias("oov_ct"),
    )
    avg6 = F.col("s6").cast("double") / (
        F.col("n").cast("double") * F.lit(1_000_000.0)
    )
    return agg.select(
        "doc_id",
        (F.floor(avg6 * F.lit(10_000) + F.lit(0.5)) / F.lit(10_000.0)).alias(
            "avg_neg_logp2"
        ),
        "oov_ct",
    )


BIGRAM_LOGPROB_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '),
                             x -> x <> '') AS toks
  FROM documents
), m AS (
  SELECT doc_id,
         -- DuckDB slices are INCLUSIVE: [:-1] keeps the last element, which
         -- would make list_zip null-pad an extra phantom bigram
         list_transform(list_zip(toks[:len(toks) - 1], toks[2:]),
                        x -> x[1] || ' ' || x[2]) AS bigrams
  FROM t
), bgs AS (
  SELECT doc_id, unnest(bigrams) AS bg FROM m
), counts AS (
  SELECT bg, count(*) AS cnt FROM bgs GROUP BY 1
), ctx AS (
  SELECT split_part(bg, ' ', 1) AS c, sum(cnt) AS ctx_cnt
  FROM counts GROUP BY 1
), total AS (
  SELECT sum(cnt) AS total FROM counts
), vocab AS (
  SELECT v.bg, v.cnt, ctx.ctx_cnt
  FROM (SELECT bg, cnt FROM counts
        ORDER BY cnt DESC, bg ASC LIMIT {BIGRAM_VOCAB_SIZE}) v
  JOIN ctx ON split_part(v.bg, ' ', 1) = ctx.c
), scored AS (
  SELECT b.doc_id,
         CAST(floor(-ln(CASE WHEN v.cnt IS NULL THEN 1.0 / total.total
                             ELSE v.cnt * 1.0 / v.ctx_cnt END) * 1000000
                    + 0.5) AS BIGINT) AS t6,
         (v.cnt IS NULL) AS oov
  FROM bgs b LEFT JOIN vocab v ON b.bg = v.bg CROSS JOIN total
)
SELECT doc_id,
       floor(CAST(sum(t6) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0)
             * 10000 + 0.5) / 10000.0 AS avg_neg_logp2,
       CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS oov_ct
FROM scored
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Corpus-level paragraph dedup (CCNet/Dolma-style): drop every repeat of a
# paragraph seen anywhere in the corpus, keep the FIRST occurrence
# (ordered by doc, position), reassemble each document preserving order.

PARA_CHUNK_TOKENS = 15


def paragraph_dedup(
    docs: DataFrame, text_col: str = "text", chunk_tokens: int = PARA_CHUNK_TOKENS
) -> DataFrame:
    """Exact paragraph-level dedup across the whole corpus.

    Real corpora split on a paragraph separator (``\\n\\n``); the fixture
    corpus is a single line, so the registered form uses a deterministic
    ``chunk_tokens``-token chunking as the paragraph rule — the operator
    shape (the expensive part) is identical either way.

    Scale shape: one posexplode, then ONE shuffle keyed on the paragraph
    (prefixed with its 60-bit hash so comparisons are cheap) carrying one
    row per paragraph occurrence; ``row_number`` inside that partition
    marks the global first occurrence. Reassembly is a per-document
    groupBy (second shuffle) whose state is bounded by document size.
    No driver-side state; at 100 TB both shuffles are hash-partitioned
    and AQE-splittable (a pathological viral paragraph lands one key on
    one reducer — cap its weight upstream with a doc-freq guard like
    ngram_jaccard's if the corpus needs it).
    """
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    n_paras = F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - F.lit(1)),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
        ),
    )
    p = docs.select("doc_id", F.posexplode(paras).alias("para_ix", "para"))
    w = (
        Window.partitionBy(hash64(F.col("para")), "para")
        .orderBy("doc_id", "para_ix")
    )
    kept = p.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("para_ix", "para"))),
                lambda s: s["para"],
            ),
            " ",
        ).alias("text_dedup"),
        F.count("*").alias("kept_paras"),
    )


PARAGRAPH_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), ix AS (
  SELECT doc_id, l,
         unnest(range(0, CAST(ceil(len(l) / {PARA_CHUNK_TOKENS}.0) AS BIGINT)))
           AS para_ix
  FROM t
), chunks AS (
  SELECT doc_id, para_ix,
         array_to_string(
           l[(para_ix*{PARA_CHUNK_TOKENS}+1):((para_ix+1)*{PARA_CHUNK_TOKENS})],
           ' ') AS para
  FROM ix
), ranked AS (
  SELECT doc_id, para_ix, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, para_ix) AS rn
  FROM chunks
)
SELECT doc_id,
       string_agg(para, ' ' ORDER BY para_ix) AS text_dedup,
       count(*) AS kept_paras
FROM ranked WHERE rn = 1
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Hashed-feature linear quality model (fastText-style scorer).

CLS_DIM = 512  # hashed feature buckets


def quality_classifier(
    docs: DataFrame,
    text_col: str = "text",
    dim: int = CLS_DIM,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Score documents with a hashed bag-of-words linear model.

    The default weight table is a deterministic pseudo-trained stand-in
    (a fixed integer function of the bucket id, in milli-units) — the
    slot where a real exported fastText/regression model's weights load
    from a parquet file; ``weights`` (bucket int, w_milli) overrides it
    with an actual trained model, e.g.
    :func:`train_quality_classifier`'s milli-quantized export — ONE
    serve path for both, so trained and stand-in scoring cannot drift
    (the ivf_topk_from_assigned pattern). What is under test is the
    SCORING plumbing at scale:

    - weights live in a DataFrame broadcast to every executor (dim rows —
      a few MB even at 2M buckets), so scoring is a map-side join;
    - summands are integers (milli-weights), so the per-doc sum is
      order-independent — bit-identical across engines and partitionings;
    - the only shuffle is the per-doc aggregation of partial sums.

    Returns (doc_id, margin_milli, mean_w, keep): the linear margin in
    milli-units, its token-mean, and the sign threshold. A deployment
    would map margin → probability with a sigmoid; kept out of the
    contract on purpose (transcendental libm results differ across
    engines in the last ulp).
    """
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # md5-per-token is a CPU amplifier over a (typically) narrow scan —
    # widen first (measured 0.75→0.55 s warm at bench sf0.1; the same
    # A/B shows no win for paragraph_dedup, which stays unrebalanced)
    docs = rebalance_narrow_scan(docs)
    spark = docs.sparkSession
    if weights is None:
        weights = spark.range(dim).select(
            F.col("id").alias("bucket"),
            (
                (F.col("id") * F.lit(2654435761)) % F.lit(2001) - F.lit(1000)
            ).alias("w_milli"),
        )
    t = docs.select("doc_id", F.explode(tokenize(text_col)).alias("tok"))
    scored = (
        t.withColumn("bucket", F.pmod(hash64(F.col("tok")), F.lit(dim)))
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("w_milli").alias("margin_milli"), F.count("*").alias("n"))
    )
    return scored.select(
        "doc_id",
        "margin_milli",
        pround(
            F.col("margin_milli").cast("double")
            / (F.lit(1000.0) * F.col("n").cast("double")),
            4,
        ).alias("mean_w"),
        F.when(F.col("margin_milli") >= 0, 1).otherwise(0).alias("keep"),
    )


QUALITY_CLASSIFIER_ORACLE = f"""
WITH weights AS (
  SELECT i AS bucket, (i * 2654435761) % 2001 - 1000 AS w_milli
  FROM generate_series(0, {CLS_DIM - 1}) g(i)
), toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS tok
  FROM documents
), b AS (
  SELECT doc_id,
         (({hash64_sql('tok')} % {CLS_DIM}) + {CLS_DIM}) % {CLS_DIM} AS bucket
  FROM toks
), agg AS (
  SELECT doc_id, CAST(sum(w.w_milli) AS BIGINT) AS margin_milli,
         count(*) AS n
  FROM b JOIN weights w USING (bucket) GROUP BY 1
)
SELECT doc_id, margin_milli,
       {pround_sql('margin_milli / (1000.0 * n)', 4)} AS mean_w,
       CASE WHEN margin_milli >= 0 THEN 1 ELSE 0 END AS keep
FROM agg
"""


# ---------------------------------------------------------------------------
# Quality-classifier TRAINING (round 9): the other half of
# quality_classifier — distributed logistic regression over the same
# hashed bag-of-words features, the fastText-style model every
# production curation stack trains on labeled seed sets and then runs
# over the whole corpus (GPT-3 §2.2 / LLaMA-style quality filtering).

CLS_TRAIN_ITERS = 8
# lr as an exact rational so the integer update below is deterministic
CLS_TRAIN_LR_NUM = 5
CLS_TRAIN_LR_DEN = 1  # lr = 5 — mean-pooled features put the
# gradient scale at O(1/dim-active), so the stable step is O(1)-large;
# verified loss-decreasing at sf0.001/0.01/0.1 and convergent to 100%
# on the planted separable corpus (tests)


def _classifier_features(
    docs: DataFrame, label: Column, text_col: str, dim: int
) -> DataFrame:
    """(doc_id, y, bucket, xf_micro): MEAN-POOLED hashed bag-of-words
    features — the same tokenize → hash64 → pmod(dim) bucketing as the
    serve-side ``quality_classifier``, with the feature value the
    bucket's token-count FRACTION of the document (fastText's mean
    pooling), micro-quantized so every downstream sum is an exact
    int64. Mean pooling keeps the margin scale O(max |w|) regardless of
    document length, which is what makes one learning rate stable
    across corpora (raw counts put the curvature at the mercy of
    tokens-per-doc — measured divergent on the fixture). Docs with zero
    tokens have no rows (no feature mass, nothing to train on — they
    score z=0 at serve time)."""
    t = docs.select(
        "doc_id",
        label.cast("int").alias("y"),
        F.explode(tokenize(text_col)).alias("tok"),
    )
    counted = t.withColumn(
        "bucket", F.pmod(hash64(F.col("tok")), F.lit(dim))
    ).groupBy("doc_id", "y", "bucket").agg(F.count("*").alias("x"))
    w_doc = Window.partitionBy("doc_id")
    n_tok = F.sum("x").over(w_doc)
    return counted.select(
        "doc_id",
        "y",
        "bucket",
        F.floor(
            F.col("x") * F.lit(1_000_000) / n_tok + F.lit(0.5)
        )
        .cast("bigint")
        .alias("xf_micro"),
    )


def train_quality_classifier(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    dim: int = CLS_DIM,
    iters: int = CLS_TRAIN_ITERS,
    lr_num: int = CLS_TRAIN_LR_NUM,
    lr_den: int = CLS_TRAIN_LR_DEN,
) -> tuple[list[int], list[int], int]:
    """Full-batch logistic regression over hashed bag-of-words features,
    distributed the way Spark MLlib runs it (one corpus-rate pass per
    gradient step over a CACHED feature table) but with the repo's
    integer-determinism discipline end-to-end, so the trained model is
    BIT-IDENTICAL across partitionings and engines:

    - weights live on the driver as int MICRO-units (O(dim) state, the
      PCA-aggregate class of bounded collect);
    - the per-doc margin is Σ x·w_micro — an int64 sum, order-free;
    - the residual σ(z)−y and per-doc log-loss quantize to micros
      BEFORE the int64 sums that aggregate them (the char_entropy /
      unigram_logprob trick), so gradient and loss are exact integers
      whatever the partitioning (pinned:
      tests/test_plans.py::test_classifier_training_is_partition_invariant);
    - the update w ← w − lr·g/n rounds in exact rational arithmetic
      (``lr_num/lr_den``, python ints).

    Per iteration: TWO actions over the persisted feature table — the
    per-doc margin/residual/loss pass (join with the broadcast ≤dim-row
    weight table, groupBy doc), and the gradient rollup (features join
    residuals on doc_id — co-located at scale by persisting features
    partitioned on doc_id — then a map-combined groupBy bucket to ≤dim
    rows). Loss uses the softplus form ln(1+e^z) − y·z with the |z|
    guard, numerically stable at any margin. σ/ln are the only libm
    terms; both quantize immediately per doc (agreement-in-practice
    caveat, same as unigram_logprob).

    Returns (w_micro list, per-iter total-loss-micro list, n_docs) —
    ``classifier_weights_df`` exports the serve-side milli table."""
    feat = _classifier_features(docs, label, text_col, dim).persist()
    n_docs = feat.select("doc_id").distinct().count()
    spark = docs.sparkSession
    w = [0] * dim
    losses: list[int] = []
    if n_docs == 0:
        feat.unpersist()
        return w, losses, 0
    for _ in range(iters):
        wdf = spark.createDataFrame(
            [(j, wj) for j, wj in enumerate(w)], "bucket int, w long"
        )
        # z = Σ xf·w with xf in micro-fractions and w in micro-units →
        # the exact int64 sum is pico-scaled
        z = F.col("z_pico").cast("double") / F.lit(1e12)
        sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        # softplus(z) − y·z, computed stably: ln(1+e^{−|z|}) + max(z,0)
        loss = (
            F.log1p(F.exp(-F.abs(z)))
            + F.greatest(z, F.lit(0.0))
            - F.col("y").cast("double") * z
        )
        per_doc = (
            feat.join(F.broadcast(wdf), "bucket")
            .groupBy("doc_id", "y")
            .agg(F.sum(F.col("xf_micro") * F.col("w")).alias("z_pico"))
            .select(
                "doc_id",
                F.floor(
                    (sig - F.col("y").cast("double")) * F.lit(1_000_000)
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("resid_micro"),
                F.floor(loss * F.lit(1_000_000) + F.lit(0.5))
                .cast("bigint")
                .alias("loss_micro"),
            )
            .persist()
        )
        total_loss = per_doc.agg(F.sum("loss_micro")).collect()[0][0]
        losses.append(int(total_loss))
        grad = {
            r.bucket: int(r.g)
            for r in feat.join(
                per_doc.select("doc_id", "resid_micro"), "doc_id"
            )
            .groupBy("bucket")
            .agg(F.sum(F.col("xf_micro") * F.col("resid_micro")).alias("g"))
            .collect()
        }
        per_doc.unpersist()
        # g is pico-scaled (micro-resid × micro-fraction); dL/dw_j =
        # g/(1e12·n) and Δw_micro = lr·1e6·dL/dw → divide by 1e6·lr_den·n
        den = lr_den * n_docs * 1_000_000
        for j, g in grad.items():
            # round-half-up in exact ints (floor((a + den/2) / den))
            w[j] -= (lr_num * g + den // 2) // den
    feat.unpersist()
    return w, losses, n_docs


def classifier_weights_df(spark, w_micro: list[int]) -> DataFrame:
    """Trained weights as the serve-side (bucket, w_milli) table —
    milli-quantized export (the standard model-export rounding), fed to
    ``quality_classifier(weights=...)`` so trained models score through
    the exact same broadcast-join plumbing as the stand-in table."""
    rows = [
        (j, (wj + (500 if wj >= 0 else -500)) // 1000)
        for j, wj in enumerate(w_micro)
    ]
    return spark.createDataFrame(rows, "bucket int, w_milli long")


def classifier_train_eval(
    docs: DataFrame,
    text_col: str = "text",
    dim: int = CLS_DIM,
    iters: int = CLS_TRAIN_ITERS,
) -> DataFrame:
    """(n_docs, n_pos, n_iters_run, loss_decreased, beats_null): the
    driver-visible contract of classifier training on the fixture's
    lang label (y = lang = 'en'). ``n_docs``/``n_pos`` are oracle-exact
    counts; the flags state what any correct full-batch GD run must
    satisfy here: the final total log-loss is strictly below the first
    iteration's (loss_decreased) and below the null model's n·ln 2
    (beats_null — w=0 predicts σ=0.5 for every doc, so iteration 1's
    loss IS the null loss and any signal the hashed features carry must
    improve on it). The weight trajectory itself is pinned exactly by
    the partition-invariance and planted-separability pytests — the
    same division of labor as bpe_train's contract eval."""
    if iters < 2:
        raise ValueError(
            "classifier_train_eval needs iters >= 2: iteration 1's loss IS "
            "the null loss (w=0), so strict decrease needs at least one "
            "update — with iters=1, losses[-1] == losses[0] and the oracle's "
            "hardcoded loss_decreased=1/beats_null=1 would spuriously fail"
        )
    w, losses, n_docs = train_quality_classifier(
        docs, F.col("lang") == F.lit("en"), text_col, dim, iters
    )
    spark = docs.sparkSession
    n_pos = docs.where(
        (F.col("lang") == F.lit("en")) & (F.size(tokenize(text_col)) > 0)
    ).count()
    null_loss = n_docs * 693_147  # n · ln2 in micro-units
    return spark.createDataFrame(
        [
            (
                n_docs,
                n_pos,
                len(losses),
                1 if losses[-1] < losses[0] else 0,
                1 if losses[-1] < null_loss else 0,
            )
        ],
        "n_docs long, n_pos long, n_iters_run long, "
        "loss_decreased long, beats_null long",
    )


def classifier_train_eval_oracle(iters: int = CLS_TRAIN_ITERS) -> str:
    return f"""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents
        WHERE length(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 x -> x <> '')) > 0) AS n_docs,
       (SELECT CAST(count(*) AS BIGINT) FROM documents
        WHERE lang = 'en'
          AND length(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 x -> x <> '')) > 0) AS n_pos,
       CAST({iters} AS BIGINT) AS n_iters_run,
       CAST(1 AS BIGINT) AS loss_decreased,
       CAST(1 AS BIGINT) AS beats_null
"""


# ---------------------------------------------------------------------------
# Token-budget sampling: draw a deterministic pseudo-random sample per
# source until each source's token budget is filled (data-mixing primitive:
# "300B tokens of web, 50B of code, ...").

MIX_TOKEN_BUDGET = 2000


def token_budget_sample(
    docs: DataFrame, budget_tokens: int = MIX_TOKEN_BUDGET
) -> DataFrame:
    """Keep a per-source pseudo-random prefix of documents whose cumulative
    token count stays within ``budget_tokens``.

    The shuffle key is :func:`hash64` of doc_id — a deterministic
    permutation, so the sample is reproducible and engine-independent
    (unlike ``rand()``), and unlike a raw ``doc_id * KNUTH`` product it
    cannot overflow int64 (Spark wraps silently, DuckDB promotes — the
    two engines would diverge precisely at 100 TB-scale id ranges).
    One shuffle: the running sum is a window over (source) ordered by
    that permutation. At 100 TB the per-source ordering is the
    bottleneck only if one source dominates; then pre-aggregate per
    (source, key-range) token subtotals to locate the cut point and
    broadcast it — same contract, two cheap passes.
    """
    from realtime_datawarehouse_spark.operators import layout
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: LIGHT per-row map work — bytes-gated narrow-scan redistribution
    # (engages at sf1-class narrow inputs, stays out of the way below the
    # crossover; no-op on wide scans — OPTIMIZATION_r14.md §11).
    docs = rebalance_narrow_scan(
        docs, min_bytes=layout.REBALANCE_LIGHT_MIN_BYTES
    )
    from pyspark.sql import Window

    n_tok = F.size(tokenize("text"))
    base = docs.select(
        "doc_id",
        "source",
        n_tok.alias("n_tokens"),
        hash64(F.col("doc_id").cast("string")).alias("skey"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("skey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


TOKEN_BUDGET_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source,
         len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
           AS n_tokens,
         {hash64_sql('CAST(doc_id AS VARCHAR)')} AS skey
  FROM documents
), c AS (
  SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
         CAST(sum(n_tokens) OVER (
              PARTITION BY source ORDER BY skey, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM base
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= {MIX_TOKEN_BUDGET}
"""


# ---------------------------------------------------------------------------
# Corpus n-gram statistics: the global most-frequent word n-grams — the
# vocabulary/collocation profile a data pipeline builds before choosing
# filters (and the exact form of the "frequent n-gram" spam signal).
# ---------------------------------------------------------------------------

NGRAM_TOPK_N = 2
NGRAM_TOPK_K = 25


def ngram_topk(
    docs: DataFrame, n: int = NGRAM_TOPK_N, k: int = NGRAM_TOPK_K
) -> DataFrame:
    """(ngram, cnt, rank): the ``k`` most frequent word n-grams corpus-wide
    (total occurrences, not document frequency), ties broken by the ngram
    string so the result is unique in any engine.

    Scale shape: the count is map-side combined (shuffle = distinct
    n-grams, orders of magnitude under token count); the global top-k is
    ``orderBy().limit(k)`` which Catalyst plans as TakeOrderedAndProject —
    per-partition local top-k merged k×partitions at the driver — NOT a
    single-partition sort of the count table (billions of distinct
    n-grams at 100 TB). The rank column is then a window over the k
    surviving rows only.
    """
    from pyspark.sql import Window

    from realtime_datawarehouse_spark.functions.text import word_shingles
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    docs = rebalance_narrow_scan(docs)
    grams = docs.select(
        F.explode(word_shingles(tokenize("text"), n)).alias("ngram")
    )
    counts = grams.groupBy("ngram").agg(F.count("*").alias("cnt"))
    topk = counts.orderBy(F.desc("cnt"), F.asc("ngram")).limit(k)
    w = Window.orderBy(F.desc("cnt"), F.asc("ngram"))  # over k rows only
    return topk.select(
        "ngram", "cnt", F.row_number().over(w).alias("rank")
    )


def ngram_topk_oracle(n: int = NGRAM_TOPK_N, k: int = NGRAM_TOPK_K) -> str:
    join_expr = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return f"""
WITH t AS (
  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT unnest(list_transform(range(1, len(toks) - {n - 2}),
                i -> {join_expr})) AS ngram
  FROM t WHERE len(toks) >= {n}
), c AS (
  SELECT ngram, count(*) AS cnt FROM g GROUP BY 1
), r AS (
  SELECT ngram, cnt,
         row_number() OVER (ORDER BY cnt DESC, ngram ASC) AS rank
  FROM c
)
SELECT ngram, cnt, rank FROM r WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Document chunking: fixed-size token windows with overlap — the
# RAG-retrieval / pretraining-example segmentation pass.
# ---------------------------------------------------------------------------

CHUNK_SIZE = 64
CHUNK_OVERLAP = 16


def chunk_documents(
    docs: DataFrame, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP
) -> DataFrame:
    """(doc_id, chunk_start, chunk_text, n_tokens): token windows of
    ``size`` tokens starting every ``size - overlap`` tokens (1-based
    start offsets; the final window may be short). Pure builtin
    sequence/slice expressions — per-row work, no shuffle at all, and the
    output count is ~tokens/stride rows per doc. At 100 TB this runs as a
    map-only stage writing straight to the chunk store."""
    from realtime_datawarehouse_spark.operators import layout
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: LIGHT per-row map work — bytes-gated narrow-scan redistribution
    # (engages at sf1-class narrow inputs, stays out of the way below the
    # crossover; no-op on wide scans — OPTIMIZATION_r14.md §11).
    docs = rebalance_narrow_scan(
        docs, min_bytes=layout.REBALANCE_LIGHT_MIN_BYTES
    )
    stride = size - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than size")
    toks = tokenize("text")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("chunk_start"),
            F.array_join(F.slice(toks, s, size), " ").alias("chunk_text"),
            F.size(F.slice(toks, s, size)).alias("n_tokens"),
        ),
    )
    return (
        docs.where(F.size(toks) >= 1)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_start", "c.chunk_text", "c.n_tokens")
    )


def chunk_documents_oracle(
    size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP
) -> str:
    stride = size - overlap
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, toks, unnest(range(1, greatest(len(toks), 1) + 1, {stride})) AS chunk_start
  FROM t WHERE len(toks) >= 1
)
SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
       list_aggregate(toks[chunk_start : chunk_start + {size - 1}],
                      'string_agg', ' ') AS chunk_text,
       len(toks[chunk_start : chunk_start + {size - 1}]) AS n_tokens
FROM s
"""


# ---------------------------------------------------------------------------
# TF-IDF top terms per document — the classic salient-term extraction pass
# (retrieval indexing, topic labeling, keyword features).
# ---------------------------------------------------------------------------

TFIDF_K = 3


def tfidf_top_terms(docs: DataFrame, k: int = TFIDF_K) -> DataFrame:
    """(doc_id, term, tf, doc_freq, score6, rank): top-``k`` terms per doc
    by tf·idf, idf = ln(N/df). One explode feeds both the per-doc term
    frequency and (after a distinct) the document frequency; df joins back
    on the term — at 100 TB the df table is |vocabulary|, broadcastable
    after a frequency floor, and the per-doc rank is a bounded window.

    ``score6`` is the 1e-6-quantized tf·ln(N/df) — quantized AFTER a
    transcendental, so ordering/parity assumes libm ``ln`` agreement
    within the quantization grid (same documented caveat as
    unigram_logprob; ties then break on the term string, so rank is
    deterministic given that assumption)."""
    from pyspark.sql import Window

    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    docs = rebalance_narrow_scan(docs)
    t = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = (
        t.distinct().groupBy("term").agg(F.count("*").alias("doc_freq"))
    )
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    score6 = F.floor(
        F.col("tf").cast("double")
        * F.log(
            F.col("n_docs").cast("double") / F.col("doc_freq").cast("double")
        )
        * F.lit(1_000_000)
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", "tf", "doc_freq", score6.alias("score6"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score6"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "doc_freq", "score6", "rank")
    )


def tfidf_top_terms_oracle(k: int = TFIDF_K) -> str:
    return f"""
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS doc_freq
  FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
         CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / doc_freq)
                    * 1000000 + 0.5) AS BIGINT) AS score6
  FROM tf JOIN df USING (term) CROSS JOIN n
), r AS (
  SELECT doc_id, term, tf, doc_freq, score6,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score6 DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, doc_freq, score6, rank FROM r WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Temperature-based mixture rebalancing — the multilingual/multi-source
# sampling rule (share of source s ∝ n_s^alpha, alpha < 1 upweights small
# sources; Conneau & Lample 2019). alpha is fixed at 0.5 because sqrt is
# a single IEEE-exact operation in every engine, keeping the sampling
# thresholds bit-identical cross-engine (a general pow() would reintroduce
# the libm caveat).
# ---------------------------------------------------------------------------

MIX_TEMP_BUDGET = 200


def temperature_sample(
    docs: DataFrame,
    budget_docs: int = MIX_TEMP_BUDGET,
    stratum_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Keep a deterministic hash-sample of ~``budget_docs`` rows with
    per-source shares ∝ sqrt(n_s): keep-rate r_s = budget·w_s/n_s (capped
    at 1), w_s = sqrt6(n_s)/Σ sqrt6(n_s), where sqrt6 is the
    1e-6-quantized sqrt — the quantization makes the share SUM an exact
    int64 (order-free), so both engines derive identical thresholds.

    Scale shape: per-source counts are one map-side-combined aggregation
    (rows = |sources|); thresholds broadcast back; the keep decision is a
    per-row hash compare. Rerun-stable: a doc's fate depends only on its
    key and the source counts."""
    counts = docs.groupBy(stratum_col).agg(F.count("*").alias("n"))
    counts = counts.select(
        stratum_col,
        "n",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("sq6"),
    )
    tot = counts.agg(F.sum("sq6").alias("tot6"))
    thr = F.least(
        F.lit(SAMPLE_MOD).cast("bigint"),
        F.floor(
            F.lit(budget_docs).cast("double")
            * F.col("sq6").cast("double")
            / F.col("tot6").cast("double")
            / F.col("n").cast("double")
            * F.lit(SAMPLE_MOD)
        ).cast("bigint"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        stratum_col, thr.alias("thr")
    )
    bucket = F.pmod(hash64(F.col(key_col).cast("string")), F.lit(SAMPLE_MOD))
    return (
        docs.join(F.broadcast(rates), stratum_col)
        .where(bucket < F.col("thr"))
        .select(key_col, stratum_col)
    )


def temperature_sample_oracle(budget_docs: int = MIX_TEMP_BUDGET) -> str:
    return f"""
WITH c AS (
  SELECT source, count(*) AS n,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS sq6
  FROM documents GROUP BY 1
), t AS (
  SELECT CAST(sum(sq6) AS BIGINT) AS tot6 FROM c
), r AS (
  SELECT source,
         least({SAMPLE_MOD},
               CAST(floor(CAST({budget_docs} AS DOUBLE)
                    * CAST(sq6 AS DOUBLE) / CAST(tot6 AS DOUBLE)
                    / CAST(n AS DOUBLE) * {SAMPLE_MOD}) AS BIGINT)) AS thr
  FROM c CROSS JOIN t
)
SELECT d.doc_id, d.source
FROM documents d JOIN r USING (source)
WHERE {hash64_sql('CAST(doc_id AS VARCHAR)')} % {SAMPLE_MOD} < r.thr
"""


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (Gopher/Dolma): highly repetitive or
# boilerplate text compresses far below typical prose; the zlib ratio is
# the cheap content-agnostic repetition detector. Not SQL-expressible (no
# DEFLATE in DuckDB) — registered rows-only; the pytest oracle compares
# against direct zlib on the driver. zlib output is deterministic for a
# fixed level, so results are reproducible across runs and machines.
# ---------------------------------------------------------------------------

COMPRESS_LEVEL = 6

COMPRESSION_SCHEMA = "doc_id long, raw_bytes long, zlib_bytes long, ratio6 long"


def compression_ratio(
    docs: DataFrame, text_col: str = "text", level: int = COMPRESS_LEVEL
) -> DataFrame:
    """(doc_id, raw_bytes, zlib_bytes, ratio6): per-doc zlib compression
    ratio, 1e-6-quantized (ratio6 = floor(z/raw*1e6 + 0.5); raw_bytes=0
    yields ratio6 = 1_000_000 by convention).

    Arrow-batched ``mapInPandas`` — the honest Python path: DEFLATE isn't
    a builtin expression anywhere. Per-row CPU, no shuffle; at 100 TB this
    is a map-only stage like the multimodal kernels. Kernel is a nested
    function so cloudpickle ships it by value (foreign-cwd workers)."""

    def make_kernel(lv: int):
        def kernel(batches):
            import zlib

            import pandas as _pd

            for pdf in batches:
                raw = pdf[text_col].fillna("").map(
                    lambda s: len(s.encode("utf-8"))
                )
                comp = pdf[text_col].fillna("").map(
                    lambda s: len(zlib.compress(s.encode("utf-8"), lv))
                )
                ratio6 = [
                    int(c * 1_000_000 // r + (1 if (c * 1_000_000 % r) * 2 >= r else 0))
                    if r > 0
                    else 1_000_000
                    for c, r in zip(comp, raw)
                ]
                yield _pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "raw_bytes": raw.astype("int64"),
                        "zlib_bytes": comp.astype("int64"),
                        "ratio6": _pd.Series(ratio6, dtype="int64"),
                    }
                )

        return kernel

    return docs.select("doc_id", text_col).mapInPandas(
        make_kernel(level), schema=COMPRESSION_SCHEMA
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split — the canonical last step of corpus
# prep. Hash-range assignment (not rand()): a document's split depends
# only on its key, so splits are stable under reruns, re-partitioning,
# and incremental corpus growth (a new doc never flips an old one).
# ---------------------------------------------------------------------------

SPLIT_BOUNDS = (9_800, 9_900)  # /10_000: 98% train, 1% val, 1% test


def split_expr(
    key: Column, bounds: tuple[int, int] = SPLIT_BOUNDS
) -> Column:
    """Deterministic split label of an id column — bucket = hash64(key) %
    10000; < bounds[0] → train, < bounds[1] → val, else test. Pure
    expression (no shuffle, no state): any operator can re-derive a
    document's split from its id alone, which is what makes split-aware
    audits like :func:`cluster_aware_split` and the near-dup leakage
    report map-only after their own joins."""
    lo, hi = bounds
    bucket = F.pmod(hash64(key.cast("string")), F.lit(SAMPLE_MOD))
    return (
        F.when(bucket < lo, "train").when(bucket < hi, "val").otherwise("test")
    )


def split_case_sql(
    id_expr: str, bounds: tuple[int, int] = SPLIT_BOUNDS
) -> str:
    """DuckDB rendering of :func:`split_expr` over SQL expression
    ``id_expr``."""
    lo, hi = bounds
    h = hash64_sql(f"CAST({id_expr} AS VARCHAR)")
    return (
        f"CASE WHEN {h} % {SAMPLE_MOD} < {lo} THEN 'train' "
        f"WHEN {h} % {SAMPLE_MOD} < {hi} THEN 'val' "
        f"ELSE 'test' END"
    )


def train_val_test_split(
    docs: DataFrame,
    key_col: str = "doc_id",
    bounds: tuple[int, int] = SPLIT_BOUNDS,
) -> DataFrame:
    """(doc_id, source, split): hash-bucket split assignment — bucket =
    hash64(key) % 10000; < bounds[0] → train, < bounds[1] → val, else
    test. Pure per-row expression, no shuffle; the split survives any
    re-run or re-layout of the corpus."""
    return docs.select(
        key_col,
        "source",
        split_expr(F.col(key_col), bounds).alias("split"),
    )


def train_val_test_split_oracle(
    bounds: tuple[int, int] = SPLIT_BOUNDS,
) -> str:
    return f"""
SELECT doc_id, source,
       {split_case_sql('doc_id', bounds)} AS split
FROM documents
"""


def cluster_aware_split(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bounds: tuple[int, int] = SPLIT_BOUNDS,
) -> DataFrame:
    """(split, n_docs, n_clusters, n_rescued): LEAKAGE-FREE train/val/test
    split summary — the whole exact-duplicate cluster (md5(text) group)
    goes where its representative (min doc_id) hashes, so two copies of
    the same document can never straddle train and eval. ``n_rescued``
    counts the documents whose naive per-doc assignment
    (:func:`train_val_test_split`) differs from their cluster's — the
    contamination this operator removes, measured rather than assumed.

    Scale shape: ONE shuffle on content_hash (window min — single scan of
    the corpus, no self-join re-reading text), then both split labels are
    pure hash expressions (:func:`split_expr`) — map-only to the 3-row
    rollup. Deployment note: for NEAR-dup clusters swap the md5 group for
    the banded-MinHash connected components (dedup_connected_components)
    and hash the component representative the same way; the split math is
    identical, only the cluster key changes."""
    w = Window.partitionBy("content_hash")
    per = docs.select(
        F.col(key_col),
        F.md5(F.col(text_col)).alias("content_hash"),
    ).withColumn("rep_id", F.min(key_col).over(w))
    return split_rollup(
        per.select(
            F.col("content_hash").alias("cluster_key"),
            split_expr(F.col("rep_id"), bounds).alias("split"),
            split_expr(F.col(key_col), bounds).alias("doc_split"),
        )
    )


def split_rollup(per: DataFrame) -> DataFrame:
    """(cluster_key, split, doc_split) → (split, n_docs, n_clusters,
    n_rescued): the shared accounting of every cluster-aware split form —
    the cluster KEY varies (md5 group, near-dup component id), the split
    math never does (one definition, so the exact and near-dup forms
    cannot drift)."""
    return per.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("cluster_key").cast("bigint").alias("n_clusters"),
        F.sum(
            F.when(F.col("split") != F.col("doc_split"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_rescued"),
    )


def cluster_aware_split_oracle(
    bounds: tuple[int, int] = SPLIT_BOUNDS,
) -> str:
    return f"""
WITH d AS (
  SELECT doc_id, md5(text) AS content_hash FROM documents
), r AS (
  SELECT doc_id, content_hash,
         min(doc_id) OVER (PARTITION BY content_hash) AS rep_id
  FROM d
), s AS (
  SELECT content_hash,
         {split_case_sql('rep_id', bounds)} AS split,
         {split_case_sql('doc_id', bounds)} AS doc_split
  FROM r
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT content_hash) AS BIGINT) AS n_clusters,
       CAST(sum(CASE WHEN split <> doc_split THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rescued
FROM s
GROUP BY split
"""


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC): rolling content-derived boundaries, the
# document-level variant of rsync/LBFS-style chunking (Muthitacharoen et al.
# 2001). A token ends a chunk iff hash(token) % divisor == 0, so boundaries
# re-synchronize after insertions/deletions — chunk hashes are shift-robust
# dedup units, unlike fixed-size chunk_documents windows.
# ---------------------------------------------------------------------------

CDC_DIVISOR = 8  # expected chunk length ≈ divisor tokens


def cdc_chunks(
    docs: DataFrame, text_col: str = "text", divisor: int = CDC_DIVISOR
) -> DataFrame:
    """(doc_id, chunk_id, n_tokens, chunk_hash): content-defined chunks.

    Scale shape: ENTIRELY per-row until the final explode, with NO
    accumulating fold: boundary tokens get a U+0001 sentinel appended
    (one ``transform``), the array joins once (``concat_ws`` — linear),
    and one regex split recovers the chunk strings. The previous
    ``aggregate``-fold formulation re-copied the growing chunk string per
    token (quadratic per chunk) — this form measured 1.4× faster at
    bench and is output-identical. U+0001 is stripped from the input
    text first (sanitization is part of the operator contract, mirrored
    in the oracle) so no token can collide with the sentinel.
    """
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: CPU-amplifying map work over the raw scan — parallelize a
    # narrow (few-row-group) input first; no-op on wide scans
    # (OPTIMIZATION_r14.md S9/S11).
    docs = rebalance_narrow_scan(docs)
    _SEP = "\x01"
    toks = tokenize(
        F.replace(F.col(text_col), F.lit(_SEP), F.lit(""))
        if isinstance(text_col, str)
        else F.replace(text_col, F.lit(_SEP), F.lit(""))
    )
    marked = F.transform(
        toks,
        lambda t: F.when(
            F.pmod(hash64(t), F.lit(divisor)) == 0,
            F.concat(t, F.lit(_SEP)),
        ).otherwise(t),
    )
    # a boundary token ENDS its chunk: split after "SEP "; a trailing SEP
    # on the final token leaves one empty tail element — filtered out
    chunks = F.filter(
        F.split(F.concat_ws(" ", marked), _SEP + " ?"),
        lambda c: c != "",
    )
    return (
        docs.select("doc_id", chunks.alias("chunks"))
        .select("doc_id", F.posexplode("chunks").alias("chunk_id", "chunk_text"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.size(F.split("chunk_text", " ")).alias("n_tokens"),
            F.md5("chunk_text").alias("chunk_hash"),
        )
    )


def cdc_chunks_oracle(divisor: int = CDC_DIVISOR) -> str:
    """DuckDB rendering: boundary flags + prefix-sum window + ordered
    string_agg — same chunking, window formulation (the oracle need not
    share the Spark plan's shuffle-free shape, only its semantics)."""
    return f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(replace(lower(text), chr(1), ''), ' '),
                     x -> x <> '') AS toks
  FROM documents
), e AS (
  SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
  FROM d
), f AS (
  SELECT doc_id, pos, token,
         CASE WHEN {hash64_sql('token')} % {divisor} = 0 THEN 1 ELSE 0 END AS bf
  FROM e
), c AS (
  SELECT doc_id, pos, token,
         COALESCE(SUM(bf) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM f
), g AS (
  SELECT doc_id, chunk_id,
         string_agg(token, ' ' ORDER BY pos) AS chunk_text,
         count(*) AS n_tokens
  FROM c GROUP BY doc_id, chunk_id
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(n_tokens AS INT) AS n_tokens, md5(chunk_text) AS chunk_hash
FROM g
"""


# ---------------------------------------------------------------------------
# Dedup-aware epoch scheduler — the Dolma/DataComp multi-epoch mixture
# pattern: each source repeats for a (possibly fractional) number of
# epochs over the DEDUPLICATED corpus, and every epoch gets its own
# deterministic document permutation (the loader sorts each epoch shard by
# perm_key, so no two epochs present documents in the same order).
# ---------------------------------------------------------------------------


def epoch_schedule(
    docs: DataFrame,
    epochs: dict[str, float],
    stratum_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
    default_epochs: float = 1.0,
) -> DataFrame:
    """(doc_id, stratum, epoch, perm_key): multi-epoch schedule over the
    exact-dedup survivors of ``docs``.

    - Dedup-aware: only the min-key keeper per distinct text is scheduled
      (one hash aggregation — the same pass a curation run does anyway).
    - ``epochs[s] = 2.5`` → every keeper of s appears in epochs 0 and 1,
      and a deterministic hash-selected half appears in epoch 2 (selection
      hash is keyed on (doc, epoch) so successive fractional epochs draw
      different subsets — the Dolma "partial epoch" rule).
    - ``perm_key`` = hash64(doc '#' epoch): the per-epoch permutation. A
      global sort would be the classic scale mistake; emitting the KEY
      keeps the plan shuffle-free after the dedup — each downstream shard
      sorts locally, exactly how a training loader consumes it.

    Scale shape: dedup shuffle (O(docs)) + map-side explode of ≤⌈E⌉ epoch
    rows per doc + per-row hash filter. No other exchange.
    """
    keep = (
        docs.groupBy(F.md5(text_col).alias("content_hash"))
        .agg(
            F.min_by(
                F.struct(F.col(key_col), F.col(stratum_col)), F.col(key_col)
            ).alias("k")
        )
        .select(F.col("k")[key_col].alias(key_col), F.col("k")[stratum_col].alias(stratum_col))
    )
    n_ep = None
    for stratum, e in epochs.items():
        cond = F.col(stratum_col) == stratum
        n_ep = F.when(cond, e) if n_ep is None else n_ep.when(cond, e)
    n_ep = n_ep.otherwise(default_epochs)
    exploded = keep.select(
        key_col,
        F.col(stratum_col).alias("stratum"),
        n_ep.alias("n_ep"),
        F.explode(
            F.sequence(F.lit(0), F.ceil(n_ep).cast("int") - 1)
        ).alias("epoch"),
    )
    frac = F.col("n_ep") - F.floor(F.col("n_ep"))
    sel = F.pmod(
        hash64(
            F.concat_ws(
                ":", F.col(key_col).cast("string"), F.col("epoch").cast("string")
            )
        ),
        F.lit(SAMPLE_MOD),
    )
    kept = exploded.where(
        (F.col("epoch") < F.floor(F.col("n_ep")))
        | (sel < F.floor(frac * SAMPLE_MOD))
    )
    return kept.select(
        key_col,
        "stratum",
        "epoch",
        hash64(
            F.concat_ws(
                "#", F.col(key_col).cast("string"), F.col("epoch").cast("string")
            )
        ).alias("perm_key"),
    )


def epoch_schedule_oracle(
    epochs: dict[str, float], default_epochs: float = 1.0
) -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN CAST({e!r} AS DOUBLE)"
        for s, e in epochs.items()
    )
    h_sel = hash64_sql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)"
    )
    h_perm = hash64_sql(
        "CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)"
    )
    return f"""
WITH keep AS (
  SELECT min(doc_id) AS doc_id, arg_min(source, doc_id) AS source
  FROM documents GROUP BY md5(text)
), ep AS (
  SELECT doc_id, source AS stratum,
         (CASE {cases} ELSE CAST({default_epochs!r} AS DOUBLE) END) AS n_ep
  FROM keep
), x AS (
  SELECT doc_id, stratum, n_ep, CAST(g.e AS INT) AS epoch
  FROM ep, LATERAL (
    SELECT unnest(range(0, CAST(ceil(n_ep) AS BIGINT))) AS e) g
)
SELECT doc_id, stratum, epoch, {h_perm} AS perm_key
FROM x
WHERE epoch < floor(n_ep)
   OR ({h_sel}) % {SAMPLE_MOD} < floor((n_ep - floor(n_ep)) * {SAMPLE_MOD})
"""


# ---------------------------------------------------------------------------
# Corpus-duplicated n-gram coverage (the "duplicate n-gram fraction")
# ---------------------------------------------------------------------------

DUP_NGRAM_N = 3
DUP_NGRAM_MIN_DOCS = 2


def dup_ngram_coverage(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document fraction of token positions covered by an n-gram that
    also appears in ≥ DUP_NGRAM_MIN_DOCS distinct documents — the
    "duplicate n-gram fraction" quality signal (Lee et al., Deduplicating
    Training Data Makes Language Models Better; Gopher's dup-ngram filters).

    Shape: posexplode positional shingles → int64 gram hash; ONE shuffle on
    the gram hash where a window min/max of doc_id decides duplication
    (with MIN_DOCS=2, "≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id) within
    the gram partition — no distinct-count state, skew-proof on hot grams,
    and the corpus is scanned once; the groupBy-df + join-back form
    re-evaluates the tokenize→md5 pipeline on both join sides and measured
    1.9× slower at bench). Per-doc coverage = |union of [pos, pos+n-1]
    intervals| via a bounded n-row sequence explode + distinct.

    100 TB: the gram-hash exchange is the cost center; min/max are O(1)
    window aggregates over each gram's partition run. The coverage explode
    expands ≤ n× the duplicated instances only — never the whole corpus —
    and the per-doc distincts run inside one doc_id partition.
    """
    from pyspark.sql import Window

    from realtime_datawarehouse_spark.functions.text import word_shingles
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: the positional-shingle + md5 explode ran at the scan's
    # parallelism (sf1: 6.3 s at 32c ≈ 6.8 s at 8c). No-op on wide scans.
    docs = rebalance_narrow_scan(docs)
    toks = docs.select(
        "doc_id", tokenize(text_col).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        word_shingles(F.col("toks"), DUP_NGRAM_N).alias("grams"),
    )
    inst = toks.select(
        "doc_id",
        F.posexplode("grams").alias("p0", "gram"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),  # 1-based, mirrors the SQL oracle
        hash64(F.col("gram")).alias("h"),
    )
    # the min≠max duplication test is exactly "≥2 distinct docs"; a higher
    # MIN_DOCS threshold would need a count-distinct window instead
    assert DUP_NGRAM_MIN_DOCS == 2
    w = Window.partitionBy("h")
    dup_inst = (
        inst.withColumn("lo", F.min("doc_id").over(w))
        .withColumn("hi", F.max("doc_id").over(w))
        .where(F.col("lo") != F.col("hi"))
    )
    # one explode + one agg: each duplicated instance contributes its pos
    # (n times, deduped by the distinct) and its n covered token positions —
    # both counts come out of the same doc_id-keyed aggregation, saving a
    # second shuffle + join vs aggregating them separately
    per_doc = (
        dup_inst.select(
            "doc_id",
            "pos",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (DUP_NGRAM_N - 1))
            ).alias("tpos"),
        )
        .groupBy("doc_id")
        .agg(
            F.count_distinct("pos").alias("dup_gram_ct"),
            F.count_distinct("tpos").alias("covered_tokens"),
        )
    )
    base = toks.select("doc_id", "n_tokens")
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_gram_ct"), F.lit(0)).alias("dup_gram_ct"),
            F.coalesce(F.col("covered_tokens"), F.lit(0)).alias(
                "covered_tokens"
            ),
            pround(
                F.coalesce(F.col("covered_tokens"), F.lit(0))
                / F.col("n_tokens"),
                4,
            ).alias("dup_coverage"),
        )
    )


DUP_NGRAM_COVERAGE_ORACLE = f"""
WITH docs2 AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n_tokens, toks FROM docs2
), inst AS (
  SELECT doc_id, n_tokens, CAST(g.p AS INT) AS pos,
         {hash64_sql("toks[g.p] || ' ' || toks[g.p+1] || ' ' || toks[g.p+2]")} AS h
  FROM base, LATERAL (
    SELECT unnest(range(1, n_tokens - {DUP_NGRAM_N - 2})) AS p) g
  WHERE n_tokens >= {DUP_NGRAM_N}
), df AS (
  SELECT h FROM inst GROUP BY h
  HAVING count(DISTINCT doc_id) >= {DUP_NGRAM_MIN_DOCS}
), dup_inst AS (
  SELECT i.doc_id, i.pos FROM inst i JOIN df USING (h)
), cov AS (
  SELECT doc_id, count(DISTINCT t.tp) AS covered_tokens
  FROM dup_inst, LATERAL (
    SELECT unnest(range(pos, pos + {DUP_NGRAM_N})) AS tp) t
  GROUP BY doc_id
), cts AS (
  SELECT doc_id, count(*) AS dup_gram_ct FROM dup_inst GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(cts.dup_gram_ct, 0) AS dup_gram_ct,
       COALESCE(cov.covered_tokens, 0) AS covered_tokens,
       {pround_sql("COALESCE(cov.covered_tokens, 0) / b.n_tokens", 4)} AS dup_coverage
FROM base b
LEFT JOIN cov USING (doc_id)
LEFT JOIN cts USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Cross-document shared-substring runs (doc-level ExactSubstr signal)
# ---------------------------------------------------------------------------

SUBSTR_N = 8


def shared_substring_runs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document longest contiguous token run shared verbatim with
    ANOTHER document — the doc-level readout of exact-substring dedup
    (Lee et al. 2022 train ExactSubstr on suffix arrays; at corpus scale
    the equivalent signal falls out of fixed-width shingles: a shared run
    of L ≥ n tokens is exactly a run of L−n+1 consecutive duplicated
    n-gram positions).

    Shape: positional 8-gram hashes → ONE gram-hash shuffle where a window
    min/max of doc_id marks cross-document duplication (min ≠ max, as in
    :func:`dup_ngram_coverage`) → per-doc sorted position array → a linear
    fold finds the longest consecutive run (array bounded by doc length).
    Output: (doc_id, dup_gram_ct, max_run_grams, max_shared_tokens).

    100 TB: identical cost shape to dup_ngram_coverage — the gram-hash
    exchange dominates and is the only corpus-wide shuffle; the fold is
    map-side, per-doc."""
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: CPU-amplifying map work over the raw scan — parallelize a
    # narrow (few-row-group) input first; no-op on wide scans
    # (OPTIMIZATION_r14.md S9/S11).
    docs = rebalance_narrow_scan(docs)
    from realtime_datawarehouse_spark.functions.text import word_shingles

    toks = docs.select(
        "doc_id", tokenize(text_col).alias("toks")
    ).select(
        "doc_id",
        word_shingles(F.col("toks"), SUBSTR_N).alias("grams"),
    )
    inst = toks.select(
        "doc_id", F.posexplode("grams").alias("p0", "gram")
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        hash64(F.col("gram")).alias("h"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("h")
    dup_pos = (
        inst.withColumn("lo", F.min("doc_id").over(w))
        .withColumn("hi", F.max("doc_id").over(w))
        .where(F.col("lo") != F.col("hi"))
        .select("doc_id", "pos")
        .distinct()
    )
    # longest run of consecutive positions via a fold over the sorted
    # array; seed prev=-10 cannot collide (positions are ≥ 1)
    longest = F.aggregate(
        F.array_sort(F.collect_list("pos")),
        F.struct(
            F.lit(-10).alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev + 1, acc.run + 1).otherwise(1).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev + 1, acc.run + 1).otherwise(1),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    per_doc = dup_pos.groupBy("doc_id").agg(
        F.count("*").alias("dup_gram_ct"),
        longest.alias("max_run_grams"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("dup_gram_ct"), F.lit(0)).alias("dup_gram_ct"),
            F.coalesce(F.col("max_run_grams"), F.lit(0)).alias(
                "max_run_grams"
            ),
            F.when(
                F.col("max_run_grams").isNull(), F.lit(0)
            )
            .otherwise(F.col("max_run_grams") + (SUBSTR_N - 1))
            .alias("max_shared_tokens"),
        )
    )


_SUBSTR_GRAM = " || ' ' || ".join(f"toks[g.p+{k}]" for k in range(SUBSTR_N))

SHARED_SUBSTR_ORACLE = f"""
WITH docs3 AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), inst AS (
  SELECT doc_id, CAST(g.p AS INT) AS pos,
         {hash64_sql(_SUBSTR_GRAM)} AS h
  FROM docs3, LATERAL (
    SELECT unnest(range(1, len(toks) - {SUBSTR_N - 2})) AS p) g
  WHERE len(toks) >= {SUBSTR_N}
), dup AS (
  SELECT h FROM inst GROUP BY h HAVING min(doc_id) <> max(doc_id)
), dup_pos AS (
  SELECT DISTINCT i.doc_id, i.pos FROM inst i JOIN dup USING (h)
), isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup_pos
), runs AS (
  SELECT doc_id, count(*) AS run_len FROM isl GROUP BY doc_id, grp
), per_doc AS (
  SELECT doc_id, max(run_len) AS max_run_grams FROM runs GROUP BY doc_id
), cts AS (
  SELECT doc_id, count(*) AS dup_gram_ct FROM dup_pos GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(c.dup_gram_ct, 0) AS BIGINT) AS dup_gram_ct,
       CAST(COALESCE(p.max_run_grams, 0) AS INT) AS max_run_grams,
       CAST(CASE WHEN p.max_run_grams IS NULL THEN 0
                 ELSE p.max_run_grams + {SUBSTR_N - 1} END AS INT)
         AS max_shared_tokens
FROM (SELECT doc_id FROM documents) d
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN cts c USING (doc_id)
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): score every document by how much more
# likely its hashed-n-gram profile is under a TARGET distribution than under
# the background corpus — the standard cheap proxy for "looks like the
# domain I want more of" when curating pretraining mixtures.

DSIR_BUCKETS = 4096


def dsir_weights(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(doc_id, n_grams, importance): Σ over the doc's word-bigram
    instances of ln p_target(bucket) − ln p_background(bucket), with
    hashed-bigram buckets and add-1 smoothing on both distributions.

    ``target_pred`` is a boolean column over ``docs`` selecting the
    target subcorpus (the background is the whole corpus).

    Scale shape: ONE bigram explode feeds both bucket histograms (each
    map-side combinable into ≤``buckets`` partials per task); the
    per-bucket log-ratio table is ≤``buckets`` rows and broadcast to the
    scorers, so corpus rows never shuffle for the join — the only
    corpus-sized exchange is the final doc_id aggregation. Per-instance
    terms are 1e-6-quantized int64 (the dsum discipline) so the sum is
    order-free; the quantization sits AFTER a transcendental, so the
    same libm-agreement caveat as ``unigram_logprob`` applies (and the
    same production fix: materialize the tiny weight table once from one
    engine)."""
    from realtime_datawarehouse_spark.functions.text import word_shingles
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: both histogram and scorer consume this tokenize+bigram+md5
    # explode — the query's CPU center — and it ran at the scan's
    # parallelism (sf1: 14.7 s at 32c ≈ 14.3 s at 8c, i.e. one task on a
    # single-row-group file). No-op on wide scans.
    docs = rebalance_narrow_scan(docs)
    grams = docs.select(
        "doc_id",
        target_pred.alias("is_target"),
        F.explode(word_shingles(tokenize(text_col), 2)).alias("g"),
    ).select(
        "doc_id",
        "is_target",
        (hash64(F.col("g")) % F.lit(buckets)).alias("b"),
    )
    hist = grams.groupBy("b").agg(
        F.count("*").alias("ct_all"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct_t"),
    )
    tot = hist.agg(
        F.sum("ct_all").alias("n_all"), F.sum("ct_t").alias("n_t")
    )
    lr = (
        F.log(
            (F.col("ct_t") + 1).cast("double")
            / (F.col("n_t") + F.lit(buckets)).cast("double")
        )
        - F.log(
            (F.col("ct_all") + 1).cast("double")
            / (F.col("n_all") + F.lit(buckets)).cast("double")
        )
    )
    weights = hist.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(lr * F.lit(1_000_000) + F.lit(0.5)).cast("bigint").alias("w6"),
    )
    scored = grams.join(F.broadcast(weights), "b").groupBy("doc_id").agg(
        F.count("*").alias("n_grams"), F.sum("w6").alias("s6")
    )
    base = docs.select("doc_id")
    imp = F.coalesce(F.col("s6"), F.lit(0)).cast("double") / F.lit(1_000_000.0)
    return base.join(scored.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        (F.floor(imp * F.lit(10_000) + F.lit(0.5)) / F.lit(10_000.0)).alias(
            "importance"
        ),
    )


def dsir_weights_oracle(
    target_pred_sql: str, buckets: int = DSIR_BUCKETS
) -> str:
    return f"""
WITH d2 AS (
  SELECT doc_id, ({target_pred_sql}) AS is_target,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), grams AS (
  SELECT doc_id, is_target,
         {hash64_sql("toks[i] || ' ' || toks[i+1]")} % {buckets} AS b
  FROM (SELECT doc_id, is_target, toks,
               unnest(range(1, len(toks))) AS i
        FROM d2 WHERE len(toks) >= 2)
), hist AS (
  SELECT b, count(*) AS ct_all,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct_t
  FROM grams GROUP BY 1
), tot AS (
  SELECT sum(ct_all) AS n_all, sum(ct_t) AS n_t FROM hist
), weights AS (
  SELECT b,
         CAST(floor((ln((ct_t + 1) * 1.0 / (n_t + {buckets}))
                     - ln((ct_all + 1) * 1.0 / (n_all + {buckets})))
                    * 1000000 + 0.5) AS BIGINT) AS w6
  FROM hist CROSS JOIN tot
), scored AS (
  SELECT g.doc_id, count(*) AS n_grams, sum(w.w6) AS s6
  FROM grams g JOIN weights w USING (b)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
       floor(CAST(coalesce(s.s6, 0) AS DOUBLE) / 1000000.0 * 10000 + 0.5)
         / 10000.0 AS importance
FROM (SELECT doc_id FROM documents) d
LEFT JOIN scored s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# ExactSubstr span REMOVAL (Lee et al. 2022 "Deduplicating Training Data
# Makes Language Models Better", the dedup that cuts repeated spans out of
# documents instead of dropping whole documents). Span unit: 5-token grams
# duplicated across ≥2 distinct documents (n=3 is degenerate on this
# small-vocabulary fixture — 92% of tokens would qualify; n=5 removes ~10%).

DEDUP_SPAN_N = 5


def substring_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, removed_tokens, clean_text): every token
    covered by a cross-document duplicated {DEDUP_SPAN_N}-gram is cut,
    and the surviving tokens re-join in order — ExactSubstr dedup as a
    distributed plan instead of a suffix-array binary.

    Scale shape: one gram-hash exchange finds duplicated instances
    ("≥2 distinct docs" = min≠max of doc_id over the hash partition — no
    second aggregation); covered positions expand ≤ n× the DUPLICATED
    instances only; the cut is one LeftAnti hash join of token positions
    against covered positions; reassembly is a per-doc sort of surviving
    (pos, token) pairs — state bounded by document length. The suffix
    -array formulation finds arbitrary-length maximal repeats; fixed-n
    gram cover approximates it from below (a length-L duplicated span is
    covered exactly by its L−n+1 duplicated grams for L ≥ n), which is
    the standard streaming-friendly relaxation.
    """
    from realtime_datawarehouse_spark.operators import layout
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: LIGHT per-row map work — redistribute a narrow scan only when
    # the input is big enough that serial map time beats the one-time
    # shuffle (bytes-gated; measured crossover in OPTIMIZATION_r14.md
    # §11). No-op on wide scans at any size.
    docs = rebalance_narrow_scan(
        docs, min_bytes=layout.REBALANCE_LIGHT_MIN_BYTES
    )
    from pyspark.sql import Window

    from realtime_datawarehouse_spark.functions.text import word_shingles

    base = docs.select(
        "doc_id", tokenize(text_col).alias("toks")
    ).select("doc_id", "toks", F.size("toks").alias("n_tokens"))
    inst = base.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("toks"), DEDUP_SPAN_N)).alias(
            "p0", "gram"
        ),
    ).select(
        "doc_id", (F.col("p0") + 1).alias("pos"), hash64(F.col("gram")).alias("h")
    )
    w = Window.partitionBy("h")
    dup_inst = (
        inst.withColumn("lo", F.min("doc_id").over(w))
        .withColumn("hi", F.max("doc_id").over(w))
        .where(F.col("lo") != F.col("hi"))
        .select("doc_id", "pos")
    )
    covered = dup_inst.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + (DEDUP_SPAN_N - 1))
        ).alias("tp"),
    ).distinct()
    toks = base.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("tp"), "tok")
    kept = toks.join(covered.hint("shuffle_hash"), ["doc_id", "tp"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("tp"), F.col("tok")))),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("kept_ct"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(rebuilt.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("kept_ct"), F.lit(0))).alias(
                "removed_tokens"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def substring_dedup_oracle(n: int = DEDUP_SPAN_N) -> str:
    gram = " || ' ' || ".join(f"toks[g.p+{i}]" for i in range(n))
    return f"""
WITH docs2 AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n_tokens, toks FROM docs2
), inst AS (
  SELECT doc_id, CAST(g.p AS INT) AS pos, {hash64_sql(gram)} AS h
  FROM base, LATERAL (
    SELECT unnest(range(1, n_tokens - {n - 2})) AS p) g
  WHERE n_tokens >= {n}
), df AS (
  SELECT h FROM inst GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), dup_inst AS (
  SELECT i.doc_id, i.pos FROM inst i JOIN df USING (h)
), covered AS (
  SELECT DISTINCT doc_id, t.tp FROM dup_inst, LATERAL (
    SELECT unnest(range(pos, pos + {n})) AS tp) t
), toks AS (
  SELECT doc_id, CAST(s.i AS INT) AS tp, toks[s.i] AS tok
  FROM base, LATERAL (SELECT unnest(range(1, n_tokens + 1)) AS i) s
), kept AS (
  SELECT t.* FROM toks t ANTI JOIN covered c USING (doc_id, tp)
), rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS clean_text,
         count(*) AS kept_ct
  FROM kept GROUP BY 1
)
SELECT b.doc_id, b.n_tokens,
       CAST(b.n_tokens - coalesce(r.kept_ct, 0) AS BIGINT) AS removed_tokens,
       coalesce(r.clean_text, '') AS clean_text
FROM base b LEFT JOIN rebuilt r USING (doc_id)
"""


def ngram_novelty(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_shingles, novel_ct, novelty): share of a document's
    distinct shingles whose FIRST corpus occurrence (minimum doc_id) is
    this document — the marginal-contribution signal dedup-aware
    curation ranks by ("what does this doc add that the corpus doesn't
    already have?"; novelty 0 = fully covered by earlier docs, the
    deduplication complement of text_dup_ngram_coverage).

    Scale shape: one shingle-hash exchange; first-owner is min(doc_id)
    OVER the hash partition (no second aggregation or join), then one
    map-combined per-doc rollup. Docs below the shingle width emit
    n_shingles = 0 with novelty 0 (nothing contributed, nothing
    measured)."""
    from pyspark.sql import Window

    from realtime_datawarehouse_spark.operators.dedup import (
        doc_shingle_hashes,
    )

    e = doc_shingle_hashes(docs, text_col)
    w = Window.partitionBy("h")
    owned = e.withColumn("first_doc", F.min("doc_id").over(w))
    per = owned.groupBy("doc_id").agg(
        F.first("n").alias("n_shingles"),
        F.sum(
            F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
        ).alias("novel_ct"),
    )
    base = docs.select("doc_id")
    return base.join(per.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
        F.coalesce(F.col("novel_ct"), F.lit(0)).alias("novel_ct"),
        F.coalesce(
            pround(F.col("novel_ct") / F.col("n_shingles"), 4), F.lit(0.0)
        ).alias("novelty"),
    )


NGRAM_NOVELTY_ORACLE = (
    # same 3-word-shingle CTE as the dedup family
    """
WITH docs2 AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM docs2 WHERE len(toks) >= 3
), e AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
), owned AS (
  SELECT doc_id, n, min(doc_id) OVER (PARTITION BY s) AS first_doc FROM e
), per AS (
  SELECT doc_id, any_value(n) AS n_shingles,
         sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS novel_ct
  FROM owned GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(p.novel_ct, 0) AS BIGINT) AS novel_ct,
       coalesce(floor(p.novel_ct * 1.0 / p.n_shingles * 10000 + 0.5)
                / 10000.0, 0.0) AS novelty
FROM (SELECT doc_id FROM documents) d
LEFT JOIN per p USING (doc_id)
"""
)


# ---------------------------------------------------------------------------
# Full BPE TRAINING loop (Sennrich 2016 / GPT-2 style): iterate the merge
# step text_bpe_merge_pairs demonstrates once — the tokenizer-training
# algorithm itself, distributed.

BPE_TRAIN_MERGES = 8
# past this many merges, bpe_encode hands off to the broadcast-vocabulary
# kernel instead of chaining regexp passes (a Column tree deep enough to
# hit codegen/plan limits well before a real 32k vocabulary)
_BPE_REGEXP_MAX = 64


# Symbol separator for the STRING form of merge application. Like CDC's
# U+0001 sentinel, U+0002 is stripped from input text up front (contract:
# it cannot appear inside a symbol), so a separator can never collide.
_SYM_SEP = "\u0002"


def _sym_string(word: Column) -> Column:
    """word → PADDED symbol string: U+0002 at both ends and between every
    character (one regex pass inserting a separator at each inter-char
    boundary). The padding means every symbol is \\x02-delimited on BOTH
    sides, so merge patterns need no lookbehind."""
    return F.concat(
        F.lit(_SYM_SEP),
        F.regexp_replace(word, "(?<=.)(?=.)", _SYM_SEP),
        F.lit(_SYM_SEP),
    )


def _apply_merge_str(sym_str: Column, left: str, right: str) -> Column:
    """String form of :func:`_apply_merge` over the padded symbol string:
    ONE codegen'd regexp pass per merge — O(len) per word instead of the
    array fold's O(len²), and a plain string expression instead of an
    interpreted higher-order lambda — with IDENTICAL greedy left-to-right
    non-overlap semantics: Java regex scanning resumes after each
    replacement, so a merged symbol is consumed and cannot chain into the
    next pair, exactly like the fold's carry. Parity with the fold is
    pinned by tests/test_plans.py::test_apply_merge_string_form_parity
    over chain/overlap/metacharacter adversaries."""
    import re as _re

    pat = (
        f"{_SYM_SEP}{_re.escape(left)}{_SYM_SEP}{_re.escape(right)}"
        f"(?={_SYM_SEP})"
    )
    rep = _SYM_SEP + (left + right).replace("\\", "\\\\").replace("$", "\\$")
    return F.regexp_replace(sym_str, pat, rep)


def _sym_token_count(sym_str: Column) -> Column:
    """Token count of a padded symbol string: separators − 1."""
    return (
        F.length(sym_str)
        - F.length(F.translate(sym_str, _SYM_SEP, ""))
        - F.lit(1)
    )


def _apply_merge(sym_col: F.Column, left: str, right: str) -> F.Column:
    """Replace every non-overlapping adjacent (left, right) in the symbol
    array with the concatenated symbol — one codegen'd fold, greedy
    left-to-right exactly like the sequential reference algorithm (a
    merged symbol is consumed and cannot chain into the next pair).
    Used by the trainer, whose state is one row per DISTINCT word and
    one merge per round; the per-document encoders chain n_merges
    applications per word and use :func:`_apply_merge_str` instead."""
    init = F.struct(
        F.expr("array()").cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("carry"),
    )

    def step(acc, s):
        is_pair = acc["carry"].isNotNull() & (acc["carry"] == F.lit(left)) & (
            s == F.lit(right)
        )
        out_merged = F.concat(
            acc["out"], F.array(F.lit(left + right))
        )
        out_shift = F.when(
            acc["carry"].isNotNull(),
            F.concat(acc["out"], F.array(acc["carry"])),
        ).otherwise(acc["out"])
        return F.struct(
            F.when(is_pair, out_merged).otherwise(out_shift).alias("out"),
            F.when(is_pair, F.lit(None).cast("string")).otherwise(s).alias(
                "carry"
            ),
        )

    def finish(acc):
        return F.when(
            acc["carry"].isNotNull(),
            F.concat(acc["out"], F.array(acc["carry"])),
        ).otherwise(acc["out"])

    return F.aggregate(sym_col, init, step, finish)


def bpe_train_rounds(
    docs: DataFrame, n_merges: int = BPE_TRAIN_MERGES, text_col: str = "text"
) -> DataFrame:
    """(step, left, right, pair_ct): the ROUND-PER-MERGE distributed form
    of BPE training — pair counting and merge application over the
    WORD-FREQUENCY table (corpus token counts collapse once up front),
    one driver round per merge collecting a single (pair, count) row —
    the same tiny-collect iteration shape as k-means and PageRank.

    Kept as the distributed REFERENCE implementation: its data movement
    is right (everything past the word-frequency rollup is off-corpus),
    but its ROUND COUNT is one Spark job launch per learned merge, which
    at a realistic 32k-merge vocabulary is 32 000 sequential jobs — days
    of launch overhead for work real trainers finish in minutes (VERDICT
    r8 item 1). Production path: :func:`bpe_train`, which collects the
    (tiny, frequency-capped) word-frequency table once and runs the
    merge loop in-process — parity-pinned EXACTLY against this form at
    n ∈ {8, 32} by tests/test_plans.py::test_bpe_train_matches_rounds.

    Per iteration: adjacent-pair counts are a map-combined aggregation
    over |vocab| symbol arrays; the winning pair (count desc, then
    lexicographic — the standard deterministic tie-break) broadcasts
    into a codegen'd greedy left-to-right fold that rewrites each word's
    symbol array in place. State (the segmented vocab) persists across
    iterations; previous iterations unpersist."""
    # strip the symbol separator up front (same sanitization contract as
    # the encoders) so no learned merge can ever contain U+0002
    words = docs.select(
        F.explode(
            tokenize(F.regexp_replace(F.col(text_col), _SYM_SEP, ""))
        ).alias("w")
    )
    wf = words.groupBy("w").agg(F.count("*").alias("ct"))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    state = wf.select(F.col("ct"), chars.alias("sym")).persist()
    merges: list[tuple[int, str, str, int]] = []
    for step_no in range(1, n_merges + 1):
        pairs = state.select(
            "ct",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("sym"), 1, F.size("sym") - 1).alias("l"),
                    F.slice(F.col("sym"), 2, F.size("sym") - 1).alias("r"),
                )
            ).alias("p"),
        ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "ct")
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("ct").alias("pair_ct"))
            .orderBy(F.desc("pair_ct"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, pair_ct = top[0].l, top[0].r, int(top[0].pair_ct)
        merges.append((step_no, left, right, pair_ct))
        nxt = state.select("ct", _apply_merge(F.col("sym"), left, right).alias("sym")).persist()
        state.unpersist()
        state = nxt
    state.unpersist()
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "step int, left string, right string, pair_ct bigint"
    )


# Driver-side word-table cap for bpe_train: collect at most this many
# distinct words (highest-frequency first, deterministic tie-break) — the
# standard trainer practice (HF tokenizers / SentencePiece bound the word
# table the same way; dropped singleton garbage tokens carry negligible
# pair mass). Driver memory is O(Σ|w| over the capped vocab) ≈ tens of MB
# at the default. The cap never binds on the fixture corpora.
_BPE_TRAIN_MAX_WORDS = 1_000_000


def _bpe_merge_loop(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The Sennrich/GPT-2 merge-learning loop over an already-collected
    word-frequency table — pure in-process Python, the form every real
    tokenizer trainer runs once corpus token counts have collapsed.

    Incremental algorithm (O(Σ affected-word length) per merge, not a
    full recount): pair counts and a pair→words inverted index are built
    once; each learned merge rewrites only the words that contain the
    pair (greedy left-to-right non-overlap, identical to
    :func:`_apply_merge`'s fold) and applies count DELTAS for the pairs
    those words lost/gained. The argmax is a lazy-deletion heap keyed
    (−count, left, right), reproducing ``bpe_train_rounds``'s
    count-desc-then-lexicographic tie-break exactly (Python str
    comparison is code-point order == Spark's UTF8 binary order).
    Parity with the distributed round-per-merge form is EXACT and
    test-pinned at n ∈ {8, 32} (tests/test_plans.py)."""
    import heapq

    syms: list[list[str]] = [list(w) for w, _ in word_freqs]
    cts: list[int] = [c for _, c in word_freqs]
    pair_ct: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, s in enumerate(syms):
        c = cts[wi]
        for p in zip(s, s[1:]):
            pair_ct[p] = pair_ct.get(p, 0) + c
            pair_words.setdefault(p, set()).add(wi)
    heap = [(-ct, p[0], p[1]) for p, ct in pair_ct.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for step_no in range(1, n_merges + 1):
        best = None
        while heap:
            negct, l, r = heap[0]
            if pair_ct.get((l, r)) == -negct:
                best = (l, r, -negct)
                break
            heapq.heappop(heap)  # stale lazy-deletion entry
        if best is None:
            break
        left, right, ct = best
        merges.append((step_no, left, right, ct))
        touched: set[tuple[str, str]] = set()
        for wi in list(pair_words.get((left, right), ())):
            s = syms[wi]
            c = cts[wi]
            for p in zip(s, s[1:]):
                nv = pair_ct[p] - c
                if nv:
                    pair_ct[p] = nv
                else:
                    del pair_ct[p]
                touched.add(p)
                ws = pair_words.get(p)
                if ws is not None:
                    ws.discard(wi)  # re-added below if the word keeps p
            out: list[str] = []
            i, n = 0, len(s)
            while i < n:
                if i < n - 1 and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[wi] = out
            for p in zip(out, out[1:]):
                pair_ct[p] = pair_ct.get(p, 0) + c
                touched.add(p)
                pair_words.setdefault(p, set()).add(wi)
        for p in touched:
            cur = pair_ct.get(p)
            if cur is not None:
                heapq.heappush(heap, (-cur, p[0], p[1]))
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = BPE_TRAIN_MERGES,
    text_col: str = "text",
    max_words: int = _BPE_TRAIN_MAX_WORDS,
) -> DataFrame:
    """(step, left, right, pair_ct): the learned BPE merge table — the
    PRODUCTION trainer (VERDICT r8 item 1). The corpus-sized work (token
    explode → word-frequency rollup, map-combined) runs distributed
    exactly as before; the word table — tiny by construction (distinct
    words, further bounded by ``max_words`` highest-frequency-first with
    a deterministic (ct desc, word) tie-break) — collects ONCE, and the
    merge-learning loop runs in-process (:func:`_bpe_merge_loop`,
    incremental pair-count deltas + lazy-deletion heap). Total Spark
    jobs: ONE, independent of ``n_merges`` — vs one job per merge in
    :func:`bpe_train_rounds`, which made a realistic 32k-merge
    vocabulary 32 000 sequential launches. Measured: 4 096 merges over a
    100k-word / 5.6 M-char corpus in seconds (SCALE.md §30); output
    feeds :func:`bpe_encode_vocab`'s O(1)-in-vocabulary encoder.

    Semantics are IDENTICAL to ``bpe_train_rounds`` whenever the cap
    does not bind (count-desc/lexicographic tie-break, greedy
    left-to-right non-overlap application, early stop when no adjacent
    pair remains) — pinned exactly at n ∈ {8, 32} plus the pure-Python
    sequential reference (tests/test_plans.py). When the cap binds, the
    trainer learns from the ``max_words`` most frequent words — the
    standard frequency-capped practice; at 100 TB the dropped tail is
    hapax noise whose pair mass is negligible."""
    words = docs.select(
        F.explode(
            tokenize(F.regexp_replace(F.col(text_col), _SYM_SEP, ""))
        ).alias("w")
    )
    wf = words.groupBy("w").agg(F.count("*").alias("ct"))
    collected = (
        wf.orderBy(F.desc("ct"), "w").limit(max_words).collect()
    )
    merges = _bpe_merge_loop([(r.w, int(r.ct)) for r in collected], n_merges)
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "step int, left string, right string, pair_ct bigint"
    )


def bpe_encode(
    docs: DataFrame, n_merges: int = BPE_TRAIN_MERGES, text_col: str = "text"
) -> DataFrame:
    """(doc_id, tokens_before, tokens_after): tokenize each document
    under the corpus-trained BPE merge table — the encode half of the
    tokenizer workflow, and the real token-cost meter once a tokenizer
    exists (replaces the whitespace/BPE-ish proxies of token_stats).

    The merge table comes from :func:`bpe_train` (a driver-side list of
    ≤``n_merges`` (left, right) literals); application is ``n_merges``
    CHAINED greedy regexp passes over a \\x02-delimited symbol string
    (:func:`_apply_merge_str` — O(word) per pass, all codegen'd string
    ops; the round-7 rewrite from the interpreted higher-order fold,
    which measured 28 s at sf0.1 vs ~1 s for this form) compiled into
    ONE projection — no joins, no shuffles, corpus scanned once.
    Plan: strip \\x02 → split → per-word symbol string → regexp per
    merge → Σ separator counts per doc (map-only until the final doc
    rollup, which needs no shuffle either — counts are computed inside
    the row). Rows-only (the merge literals are data-dependent, the
    same static-oracle constraint as unigram_logprob's vocab); pinned
    exactly against the reference encoder in-test.

    VOCABULARY GUARD (round 8): the chained-regexp projection grows one
    ``regexp_replace`` per merge, which is fine at the demonstrative
    default but cannot compile at a realistic 32k-merge vocabulary, so
    ``n_merges > _BPE_REGEXP_MAX`` transparently dispatches to
    :func:`bpe_encode_vocab` (same output contract, parity-pinned) —
    callers never have to know where the expression-tree cliff is."""
    if n_merges > _BPE_REGEXP_MAX:
        return bpe_encode_vocab(docs, n_merges, text_col)
    words, encode_word = _bpe_words_and_encoder(docs, n_merges, text_col)
    before = F.aggregate(
        F.transform(words, lambda w: F.length(w)),
        F.lit(0),
        lambda a, b: a + b,
    )
    after = F.aggregate(
        F.transform(words, lambda w: _sym_token_count(encode_word(w))),
        F.lit(0),
        lambda a, b: a + b,
    )
    return docs.select(
        "doc_id",
        before.alias("tokens_before"),
        after.alias("tokens_after"),
    )


def _bpe_words_and_encoder(docs, n_merges: int, text_col: str):
    """Shared encode front-end of ``bpe_encode`` and its roundtrip eval
    (ONE definition so the audit can never desynchronize from the audited
    encoder): collect the corpus-trained merge table, build the
    sanitized word array and the per-word chained-regexp encoder."""
    merges = [
        (r.left, r.right)
        for r in bpe_train(docs, n_merges, text_col).orderBy("step").collect()
    ]
    clean = F.regexp_replace(F.lower(F.col(text_col)), _SYM_SEP, "")
    words = F.filter(F.split(clean, r"\s+"), lambda t: t != F.lit(""))

    def encode_word(w):
        s = _sym_string(w)
        for left, right in merges:
            s = _apply_merge_str(s, left, right)
        return s

    return words, encode_word


def _bpe_collect_merges(
    docs: DataFrame, n_merges: int, text_col: str
) -> list[tuple[str, str]]:
    """The corpus-trained merge table as a driver-side rank-ordered list
    (≤ n_merges rows — the one bounded collect both encoders share)."""
    return [
        (r.left, r.right)
        for r in bpe_train(docs, n_merges, text_col).orderBy("step").collect()
    ]


def _bpe_vocab_encode_kernel(
    merges: list[tuple[str, str]], text_col: str, per_doc: bool
):
    """Arrow-batched ``mapInPandas`` kernel encoding each document under a
    broadcast-able merge-rank table — the DEPLOYMENT form of BPE apply
    (the standard greedy lowest-rank-first loop every production
    tokenizer uses): per word, repeatedly merge all non-overlapping
    left-to-right occurrences of the lowest-ranked adjacent pair present,
    until no learned pair remains. Cost per word is O(len · merges
    APPLIED), independent of vocabulary size — unlike the chained-regexp
    form, whose expression tree grows with ``n_merges`` and cannot
    compile at a realistic 32k-merge vocabulary (VERDICT r7 item 1).

    EXACT parity with sequential in-order merge application (the
    chained-regexp/_apply_merge semantics) holds for any RANK-CONSISTENT
    table — one where each merge's operand symbols exist when it is
    learned, which real BPE training (and ``bpe_train``) guarantees:
    merging the lowest-ranked pair can only create pairs involving the
    new symbol, and every such pair was learned LATER (higher rank), so
    the loop applies merges in strictly increasing rank order, each
    exhaustively — exactly the sequential schedule. Pinned by
    tests/test_plans.py::test_bpe_encode_vocab_matches_regexp_form over
    the trained table and adversarial corpora.

    ``per_doc=True`` emits (doc_id, tokens_before, tokens_after) rows;
    ``per_doc=False`` emits one PARTIAL contract row per Arrow batch
    (n_docs, n_rt, n_mono, b, a) for the roundtrip eval's distributed
    rollup. Nested per the cloudpickle-by-value contract (foreign-cwd
    drivers)."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    table = list(merges)

    def kernel(batches):
        import re as _re

        # Java-\s parity: Spark's split uses Java regex, whose default \s
        # is ASCII [ \t\n\x0B\f\r] — identical to Python's re.ASCII \s
        ws = _re.compile(r"\s+", _re.ASCII)
        memo: dict[str, list[str]] = {}

        def encode(word):
            got = memo.get(word)
            if got is not None:
                return got
            syms = list(word)
            while len(syms) > 1:
                best = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best = r
                if best is None:
                    break
                left, right = table[best]
                out = []
                i, n = 0, len(syms)
                while i < n:
                    if (
                        i < n - 1
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            memo[word] = syms
            return syms

        import pandas as _pd

        for pdf in batches:
            before, after, rt = [], [], []
            for t in pdf[text_col]:
                if t is None or (isinstance(t, float) and t != t):
                    # null text: the regexp form's null-propagating
                    # aggregates yield (None, None); the eval coalesces
                    # to (0, 0, rt ok) — mirror both
                    before.append(None)
                    after.append(None)
                    rt.append(True)
                    continue
                # same sanitization contract as the regexp encoder:
                # strip U+0002, lower, ASCII-whitespace split
                wlist = [
                    w
                    for w in ws.split(t.lower().replace(_SYM_SEP, ""))
                    if w
                ]
                b = a = 0
                ok = True
                for w in wlist:
                    syms = encode(w)
                    b += len(w)
                    a += len(syms)
                    if ok and "".join(syms) != w:
                        ok = False
                before.append(b)
                after.append(a)
                rt.append(ok)
            if per_doc:
                yield _pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "tokens_before": _pd.Series(
                            before, dtype="Int32", index=pdf.index
                        ),
                        "tokens_after": _pd.Series(
                            after, dtype="Int32", index=pdf.index
                        ),
                    }
                )
            else:
                yield _pd.DataFrame(
                    {
                        "n_docs": [len(before)],
                        "n_rt": [sum(rt)],
                        "n_mono": [
                            sum(
                                1
                                for b, a in zip(before, after)
                                if (a or 0) <= (b or 0)
                            )
                        ],
                        "b": [sum(b or 0 for b in before)],
                        "a": [sum(a or 0 for a in after)],
                    }
                )

    return kernel


def bpe_encode_text(
    text: str, merges: list[tuple[str, str]]
) -> list[str]:
    """Tokenize ONE text under a learned merge table, driver-side — the
    serving-layer form of the ``_bpe_vocab_encode_kernel`` encoder (GET
    /encode tokenizes a single document per request; spinning a Spark
    job for one row would be the anti-pattern). Semantics are the
    kernel's EXACTLY — same sanitization (strip U+0002, lower,
    ASCII-whitespace split) and the same greedy lowest-rank-first merge
    loop — pinned token-for-token against the distributed encoder by
    tests/test_plans.py::test_bpe_encode_text_matches_kernel, so a
    served tokenization always equals what the encodings table's
    (tokens_before, tokens_after) was computed from. Cost per word is
    O(len · merges applied), independent of vocabulary size."""
    import re as _re

    ranks = {pair: i for i, pair in enumerate(merges)}
    table = list(merges)
    ws = _re.compile(r"\s+", _re.ASCII)
    out_tokens: list[str] = []
    for word in ws.split(text.lower().replace(_SYM_SEP, "")):
        if not word:
            continue
        syms = list(word)
        while len(syms) > 1:
            best = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best = r
            if best is None:
                break
            left, right = table[best]
            out = []
            i, n = 0, len(syms)
            while i < n:
                if i < n - 1 and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        out_tokens.extend(syms)
    return out_tokens


def bpe_encode_vocab(
    docs: DataFrame,
    n_merges: int = BPE_TRAIN_MERGES,
    text_col: str = "text",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """(doc_id, tokens_before, tokens_after): tokenize each document under
    a learned BPE merge table via the broadcast-vocabulary greedy
    merge-rank encoder — the DEPLOYMENT form of :func:`bpe_encode`
    (VERDICT r7 item 1). Same output contract as bpe_encode; unlike the
    chained-regexp form it survives realistic 32k-merge vocabularies:
    the merge table ships as a broadcast dict into an Arrow-batched
    ``mapInPandas`` kernel instead of an ``n_merges``-deep Column tree,
    so plan size and codegen are O(1) in vocabulary size and per-word
    cost is O(len · merges applied). Corpus scanned once, map-only, no
    shuffle (the per-doc counts are computed inside the row).

    ``merges`` injects a pre-trained table (rank-ordered (left, right)
    pairs — must be rank-consistent, see the kernel docstring); None
    trains on the corpus via :func:`bpe_train`, matching bpe_encode."""
    from pyspark.sql import types as T

    if merges is None:
        merges = _bpe_collect_merges(docs, n_merges, text_col)
    kernel = _bpe_vocab_encode_kernel(merges, text_col, per_doc=True)
    schema = T.StructType(
        [
            docs.schema["doc_id"],
            T.StructField("tokens_before", T.IntegerType()),
            T.StructField("tokens_after", T.IntegerType()),
        ]
    )
    return docs.select("doc_id", text_col).mapInPandas(kernel, schema)


def bpe_encode_vocab_roundtrip_eval(
    docs: DataFrame,
    n_merges: int = BPE_TRAIN_MERGES,
    text_col: str = "text",
) -> DataFrame:
    """The :func:`bpe_encode_roundtrip_eval` contract (n_docs,
    n_roundtrip_ok, n_monotone_ok, total_tokens_before, corpus_reduced)
    recomputed through the VOCABULARY encoder — the driver-visible,
    oracle-hash-checked registration of :func:`bpe_encode_vocab`
    (VERDICT r7 item 1: same oracle as the regexp form's eval, so the
    two encoders are pinned to one contract). The kernel emits one
    partial row per Arrow batch; the rollup is a single distributed
    agg — map-only until a ≤#batches-row reduce."""
    kernel = _bpe_vocab_encode_kernel(
        _bpe_collect_merges(docs, n_merges, text_col), text_col, per_doc=False
    )
    part = docs.select("doc_id", text_col).mapInPandas(
        kernel, "n_docs long, n_rt long, n_mono long, b long, a long"
    )
    return part.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_rt").alias("n_roundtrip_ok"),
        F.sum("n_mono").alias("n_monotone_ok"),
        F.sum("b").alias("total_tokens_before"),
        F.when(F.sum("a") < F.sum("b"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("corpus_reduced"),
    ).select(
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
        F.coalesce(F.col("n_roundtrip_ok"), F.lit(0))
        .cast("bigint")
        .alias("n_roundtrip_ok"),
        F.coalesce(F.col("n_monotone_ok"), F.lit(0))
        .cast("bigint")
        .alias("n_monotone_ok"),
        F.coalesce(F.col("total_tokens_before"), F.lit(0))
        .cast("bigint")
        .alias("total_tokens_before"),
        "corpus_reduced",
    )


def char_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, distinct_chars, entropy): Shannon entropy of the
    per-document character distribution (nats, 4 dp) — the cheap
    gibberish/boilerplate screen (natural text ≈ 2.5–3.2 nats; repeated
    filler and base64 blobs sit far off in either direction).

    Scale shape: one explode to (doc, char) counts (map-combined — the
    keyspace per doc is its alphabet, not its length), then a per-doc
    rollup summing per-character −(c/n)·ln(c/n) terms 1e-6-quantized
    BEFORE the int64 sum (order-free; the quantize-after-ln libm caveat
    of unigram_logprob applies)."""
    from realtime_datawarehouse_spark.operators.layout import (
        rebalance_narrow_scan,
    )

    # r14: CPU-amplifying map work over the raw scan — parallelize a
    # narrow (few-row-group) input first; no-op on wide scans
    # (OPTIMIZATION_r14.md S9/S11).
    docs = rebalance_narrow_scan(docs)
    chars = F.transform(
        F.sequence(F.lit(1), F.length(text_col)),
        lambda i: F.col(text_col).substr(i, F.lit(1)),
    )
    e = docs.select(
        "doc_id", F.length(text_col).alias("n"), F.explode(chars).alias("ch")
    )
    per = e.groupBy("doc_id", "n", "ch").agg(F.count("*").alias("c"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term6 = F.floor(-p * F.log(p) * F.lit(1_000_000) + F.lit(0.5)).cast(
        "bigint"
    )
    agg = per.groupBy("doc_id").agg(
        F.first("n").alias("n_chars"),
        F.count("*").alias("distinct_chars"),
        F.sum(term6).alias("h6"),
    )
    base = docs.select("doc_id")
    return base.join(agg.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_chars"), F.lit(0)).alias("n_chars"),
        F.coalesce(F.col("distinct_chars"), F.lit(0)).alias("distinct_chars"),
        F.coalesce(
            F.floor(
                F.col("h6").cast("double") / F.lit(1_000_000.0) * F.lit(10_000)
                + F.lit(0.5)
            )
            / F.lit(10_000.0),
            F.lit(0.0),
        ).alias("entropy"),
    )


CHAR_ENTROPY_ORACLE = """
WITH e AS (
  SELECT doc_id, length(text) AS n,
         unnest(list_transform(range(1, length(text) + 1),
                               i -> substr(text, CAST(i AS INT), 1))) AS ch
  FROM documents
), per AS (
  SELECT doc_id, n, ch, count(*) AS c FROM e GROUP BY 1, 2, 3
), agg AS (
  SELECT doc_id, any_value(n) AS n_chars, count(*) AS distinct_chars,
         sum(CAST(floor(-(c * 1.0 / n) * ln(c * 1.0 / n) * 1000000 + 0.5)
                  AS BIGINT)) AS h6
  FROM per GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(a.n_chars, 0) AS BIGINT) AS n_chars,
       CAST(coalesce(a.distinct_chars, 0) AS BIGINT) AS distinct_chars,
       coalesce(floor(CAST(a.h6 AS DOUBLE) / 1000000.0 * 10000 + 0.5)
                / 10000.0, 0.0) AS entropy
FROM (SELECT doc_id FROM documents) d
LEFT JOIN agg a USING (doc_id)
"""


# --------------------------------------------------------------------------
# Companion eval queries for this module's rows-only members (VERDICT r6
# item 2): bpe_train / bpe_encode / compression_ratio register
# ``oracle=None`` (N-step merge recursion and DEFLATE have no SQL
# rendering), so their driver records are rows-only. The audits below give
# each a hash-checkable row: data-dependent columns (the step-1 argmax
# pair, corpus token/byte totals) are computed EXACTLY by both engines;
# invariants the algorithms guarantee (lossless roundtrip, monotone token
# counts, deflate's worst-case bound) are pass-flags whose expected value
# the oracle states and whose non-vacuity pytests pin.
# --------------------------------------------------------------------------


def bpe_train_contract_eval(
    docs: DataFrame, n_merges: int = BPE_TRAIN_MERGES, text_col: str = "text"
) -> DataFrame:
    """(step1_left, step1_right, step1_pair_ct, n_merges_learned): the
    driver-visible companion of ``text_bpe_train``. The FIRST merge of BPE
    is non-recursive — the plain argmax over adjacent character pairs of
    the initial segmentation, weighted by word frequency — so it IS
    SQL-expressible and the oracle recomputes it exactly (pair string,
    deterministic count-desc/lexicographic tie-break, and count). A wrong
    pair counter, tokenizer, or tie-break in the trainer breaks the hash;
    the remaining ``n_merges − 1`` recursive steps stay pinned exactly by
    tests/test_plans.py::test_bpe_train_matches_reference.
    ``n_merges_learned`` asserts the loop ran to completion (the corpus
    has far more than ``n_merges`` repeating pairs).

    PRECONDITION (asserted, advisor r7): the corpus must sustain all
    ``n_merges`` merges — ``bpe_train`` breaks early when no adjacent
    pair remains, while the oracle hardcodes ``n_merges_learned =
    n_merges``, so a degenerate corpus would otherwise fail the driver
    compare with no hint at the cause."""
    merges = bpe_train(docs, n_merges, text_col)
    n_learned = merges.count()
    if n_learned < n_merges:
        raise ValueError(
            "bpe_train_contract_eval precondition violated: corpus "
            f"sustained only {n_learned}/{n_merges} merges (bpe_train "
            "ran dry), but the DuckDB oracle hardcodes n_merges_learned="
            f"{n_merges} — the compare would fail spuriously. Use a "
            "corpus with more repeating adjacent pairs or lower n_merges."
        )
    return merges.agg(
        F.min_by(F.struct("left", "right", "pair_ct"), "step").alias("s1"),
        F.count("*").alias("n_merges_learned"),
    ).select(
        F.col("s1.left").alias("step1_left"),
        F.col("s1.right").alias("step1_right"),
        F.col("s1.pair_ct").alias("step1_pair_ct"),
        "n_merges_learned",
    )


def bpe_train_contract_eval_oracle(n_merges: int = BPE_TRAIN_MERGES) -> str:
    # length() (characters), NEVER strlen() (bytes): the Spark side
    # counts characters, and a multi-byte word would otherwise emit a
    # bogus trailing pair (code-review r7). chr(2) strip mirrors the
    # trainer's U+0002 sanitization contract.
    return rf"""
WITH w0 AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(replace(lower(text), chr(2), ''), '\s+'),
           x -> x <> '')) AS w
  FROM documents
), wf AS (SELECT w, count(*) AS ct FROM w0 GROUP BY 1),
p AS (
  SELECT unnest(list_transform(range(1, length(w)),
         i -> {{'l': substr(w, CAST(i AS INT), 1),
                'r': substr(w, CAST(i AS INT) + 1, 1)}})) AS pr, ct
  FROM wf
), top AS (
  SELECT pr.l AS step1_left, pr.r AS step1_right,
         CAST(sum(ct) AS BIGINT) AS step1_pair_ct
  FROM p GROUP BY 1, 2
  ORDER BY step1_pair_ct DESC, step1_left, step1_right LIMIT 1
)
SELECT step1_left, step1_right, step1_pair_ct,
       CAST({n_merges} AS BIGINT) AS n_merges_learned
FROM top
"""


def bpe_encode_roundtrip_eval(
    docs: DataFrame, n_merges: int = BPE_TRAIN_MERGES, text_col: str = "text"
) -> DataFrame:
    """(n_docs, n_roundtrip_ok, n_monotone_ok, total_tokens_before,
    corpus_reduced): the driver-visible companion of ``text_bpe_encode``.
    BPE is lossless by construction — concatenating a word's encoded
    symbols must reproduce the word exactly — and merging can only shrink
    a word's token count; both invariants are re-verified per document
    against the corpus-trained merge table and must hold for ALL docs
    (expected counts = n_docs, which the oracle computes). ``total_tokens_
    before`` (Σ characters over whitespace tokens) is oracle-exact;
    ``corpus_reduced`` asserts the 8 learned merges actually compressed
    the corpus. A dropped/duplicated symbol in the ``_apply_merge`` fold
    or a corrupt merge table flips a count and the driver hash. Same
    one-scan, fold-per-merge plan as bpe_encode — no joins, no shuffle
    before the final single-row rollup."""
    words, encode_word = _bpe_words_and_encoder(docs, n_merges, text_col)
    # stage the expensive arrays as ALIASED columns (r13): `enc` (the
    # n_merges-deep chained-regexp encode) is consumed by BOTH the token
    # count and the roundtrip check, and higher-order lambdas defeat
    # codegen CSE, so the single-projection form evaluated the whole
    # encode chain twice per document (guide §4.4 class). Aliasing
    # words/enc in upstream projections makes the downstream references
    # plain attributes; CollapseProject keeps the stages separate
    # precisely because collapsing would duplicate a non-cheap
    # expression referenced more than once. Measured at bench sf0.1:
    # best-of-4 2.07 s → 1.03 s, identical output.
    s1 = docs.select("doc_id", words.alias("ws"))
    s2 = s1.select(
        "doc_id",
        "ws",
        F.transform("ws", lambda w: encode_word(w)).alias("enc"),
    )
    before = F.aggregate(
        F.transform("ws", lambda w: F.length(w)),
        F.lit(0),
        lambda a, b: a + b,
    )
    after = F.aggregate(
        F.transform("enc", _sym_token_count), F.lit(0), lambda a, b: a + b
    )
    roundtrip = F.forall(
        F.zip_with(
            "ws", "enc", lambda w, s: F.translate(s, _SYM_SEP, "") == w
        ),
        lambda ok: ok,
    )
    per = s2.select(
        F.coalesce(before, F.lit(0)).alias("b"),
        F.coalesce(after, F.lit(0)).alias("a"),
        F.coalesce(roundtrip, F.lit(True)).alias("rt"),
    )
    return per.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("rt"), 1).otherwise(0)).alias("n_roundtrip_ok"),
        F.sum(F.when(F.col("a") <= F.col("b"), 1).otherwise(0)).alias(
            "n_monotone_ok"
        ),
        F.sum("b").cast("bigint").alias("total_tokens_before"),
        F.when(F.sum("a") < F.sum("b"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("corpus_reduced"),
    ).select(
        "n_docs",
        F.col("n_roundtrip_ok").cast("bigint").alias("n_roundtrip_ok"),
        F.col("n_monotone_ok").cast("bigint").alias("n_monotone_ok"),
        "total_tokens_before",
        "corpus_reduced",
    )


BPE_ENCODE_ROUNDTRIP_ORACLE = r"""
WITH w0 AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(replace(lower(text), chr(2), ''), '\s+'),
           x -> x <> '')) AS w
  FROM documents
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_roundtrip_ok,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_monotone_ok,
       CAST(coalesce((SELECT sum(length(w)) FROM w0), 0) AS BIGINT)
           AS total_tokens_before,
       CAST(1 AS BIGINT) AS corpus_reduced
"""


def compression_roundtrip_eval(
    docs: DataFrame, text_col: str = "text", level: int = COMPRESS_LEVEL
) -> DataFrame:
    """(n_docs, n_roundtrip_ok, n_bound_ok, total_raw_bytes): the
    driver-visible companion of ``text_compression_ratio``. DEFLATE is
    lossless — ``decompress(compress(x)) == x`` must hold per document —
    and its framed output is bounded by raw + 5 B/16 KiB block + header
    slack; both are re-verified per doc in the same Arrow-batched
    ``mapInPandas`` kernel shape as the ratio query (expected counts =
    n_docs, oracle-computed). ``total_raw_bytes`` (Σ utf-8 octets) is
    oracle-exact via octet_length. Map-only until the single-row rollup."""

    def kernel(batches):
        import zlib

        import pandas as _pd

        for pdf in batches:
            raws = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            n = len(raws)
            rt = 0
            bound = 0
            total = 0
            for b in raws:
                c = zlib.compress(b, level)
                total += len(b)
                if zlib.decompress(c) == b:
                    rt += 1
                # deflate worst case: stored blocks add 5 B / 16 KiB plus
                # 11 B of zlib header/checksum/EOB slack — over-covered.
                if len(c) <= len(b) + 64 + len(b) // 1000:
                    bound += 1
            yield _pd.DataFrame(
                {
                    "n_docs": [n],
                    "n_roundtrip_ok": [rt],
                    "n_bound_ok": [bound],
                    "total_raw_bytes": [total],
                }
            )

    partials = docs.select(text_col).mapInPandas(
        kernel,
        schema="n_docs long, n_roundtrip_ok long, n_bound_ok long,"
        " total_raw_bytes long",
    )
    return partials.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_roundtrip_ok").cast("bigint").alias("n_roundtrip_ok"),
        F.sum("n_bound_ok").cast("bigint").alias("n_bound_ok"),
        F.sum("total_raw_bytes").cast("bigint").alias("total_raw_bytes"),
    )


COMPRESSION_ROUNDTRIP_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_roundtrip_ok,
       CAST(count(*) AS BIGINT) AS n_bound_ok,
       CAST(coalesce(sum(octet_length(encode(text))), 0) AS BIGINT)
           AS total_raw_bytes
FROM documents
"""
