"""SparkSession factory with scale-aware defaults.

Defaults are chosen for the 100 TB design point (AQE on, skew-join handling,
broadcast threshold) while remaining correct on ``local[*]`` test runs:

- ``spark.sql.adaptive.enabled`` — runtime re-planning: coalesce tiny shuffle
  partitions at small SF, split skewed ones at large SF.
- ``spark.sql.session.timeZone=UTC`` — the test parquet stores naive
  timestamps; UTC makes Spark's display/format semantics agree bit-for-bit
  with the DuckDB oracle (SURVEY.md §7.4 #3 — the reference pins UTC+8 via
  rt/util/DateFormatUtil.java:27; we pin the *oracle's* zone instead, which
  is the portable choice).
- Arrow enabled — every Python-side exchange (the few mapInPandas operators)
  is Arrow-batched, never row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Cores for local mode, and one shuffle partition per core: $SPARK_GRAFT_CPUS,
# else the cores this process may run on. On a real cluster the partition
# count is overridden (or left to AQE's coalescing with a high initial count).
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# InferFiltersFromGenerate synthesizes `size(e)>0 AND isnotnull(e)` below
# every explode(e). When e is a COMPUTED array — this engine's hottest
# shape: tokenize→shingle arrays feeding every dedup/text query — the
# inferred filter re-inlines the whole array expression below the
# rebalance exchange, so each document is tokenized+shingled TWICE (the
# optimizer duplicating expensive expressions, guide §4.4; no cross-
# operator CSE rescues it). Excluding the rule halves that stage:
# minhash_signatures at bench sf0.1 1.374 s → 0.604 s, identical output
# (the filter is semantically implied by explode itself — it only skips
# rows explode would drop anyway). Cost of exclusion: explodes of STORED
# arrays lose a scan-level null/empty prune. Three embed_* queries do
# explode the stored ``embeddings.embedding`` array directly (r14 audit);
# the store is non-null by construction, so the lost prune is worthless
# there — and cheap at scale next to a doubled map stage. The precondition
# is pinned structurally by tests/test_plans.py::
# test_no_query_explodes_a_stored_array (allowlist = those three).
_EXCLUDED_OPT_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)

# The runtime-settable SQL confs: set at launch by build_session and on a
# session we did not build by tune_existing.
_SQL_CONF = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.optimizer.excludedRules", _EXCLUDED_OPT_RULES),
)


def build_session(
    app_name: str = "realtime_datawarehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or CPUS))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (*_SQL_CONF, *(extra_conf or {}).items()):
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our defaults to a session we did
    not build (the driver hands us one in ``__spark_entry__``)."""
    for k, v in (*_SQL_CONF, ("spark.sql.shuffle.partitions", str(CPUS))):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in some deployments; defaults are sane
    return spark
