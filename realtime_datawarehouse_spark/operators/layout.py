"""Physical layout: bucketed tables for shuffle-free co-located joins.

The reference co-locates stream joins by Kafka-partitioning both topics on
the join key (implicit in Flink's keyBy). The batch-warehouse equivalent is
BUCKETING: write both fact tables bucketed (and sorted) by the join key;
every subsequent join/aggregation on that key reads co-partitioned data and
skips the exchange entirely — at 100 TB the single biggest shuffle saving
available (tested in tests/test_layout_skew.py by asserting the joined plan
has no Exchange).

Bucket-count guidance at scale: pick ``buckets ≈ table_size /
target_partition_size`` (128–512 MB each) and use the SAME count on tables
that join together (Spark requires equal bucket counts to elide the
shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    num_buckets: int,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Write ``df`` as a bucketed (+sorted) table registered in the catalog.

    ``path`` makes it an external table (data at ``path``, catalog entry in
    the session catalog) — used by tests to keep data in tmp dirs; production
    omits it (managed warehouse location).
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def rebalance_narrow_scan(
    df: DataFrame,
    min_bytes: int = 0,
) -> DataFrame:
    """Round-robin-redistribute a scan that has fewer partitions than the
    session's parallelism, so CPU-amplifying operators downstream (shingle
    explode + hashing, vector folds, Arrow decode kernels) run at full
    width.

    This is the unsplittable-input failure mode: a parquet file is
    parallelized at ROW-GROUP granularity, so a few single-row-group files
    (or gzip blobs) feed any downstream pipeline at parallelism ≈ file
    count no matter how many cores the cluster has. The one-time shuffle
    moves only the raw scan rows — orders of magnitude less data than what
    the downstream explode/codec produces from them. When the scan already
    has at least the session's default parallelism in partitions (the
    healthy 100 TB layout), this is a no-op: no shuffle is added.

    ``min_bytes`` (r14): for operators whose per-row map work is LIGHT
    (a plain tokenize+count, one small explode), the redistribution
    shuffle only pays for itself once the narrow input is big enough that
    serial map time dominates it — below that the query is already
    sub-second and the exchange is pure overhead (measured at sf0.1:
    u1_tokenize 0.19 → 0.45 s WITH an unconditional rebalance, while the
    same op at sf1 goes 0.94 → 0.45 s). Callers with light amplification
    pass ``min_bytes=REBALANCE_LIGHT_MIN_BYTES``: the rebalance engages
    only when the optimizer's size estimate for the input exceeds it —
    scale-adaptive (derived from input size), not a fixed-SF tuning.
    Heavy-amplification callers (per-char explodes, |corpus|×|centroids|
    scoring) keep the unconditional form — measured wins at every scale.
    """
    if min_bytes:
        try:
            est = int(
                str(
                    df._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
            if est < min_bytes:
                return df
        except Exception:
            pass  # no estimate → fall through to the partition-count rule
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# Crossover for LIGHT-map-work callers of rebalance_narrow_scan: measured
# between sf0.1 (documents estimate 0.25-0.59 MB depending on projection;
# rebalance LOSES ~2x there) and sf1 (2.6-6.0 MB; rebalance WINS ~2x) —
# see OPTIMIZATION_r14.md §11. Estimates come from the optimizer's
# sizeInBytes, which for a bare parquet scan tracks the file size.
REBALANCE_LIGHT_MIN_BYTES = 2 << 20


def zorder_key(cols: list, bits: int = 16):
    """Z-order (Morton) clustering key: interleave the low ``bits`` bits of
    each integer column — sorting by it gives multi-column locality, so
    row-group min/max stats stay tight on EVERY clustered column and a
    filter on any of them prunes row groups (the open-source answer to
    Delta OPTIMIZE ZORDER BY; verified by footer stats in tests).

    Pure bit-arithmetic expressions — codegen'd, no UDF. Columns must be
    non-negative ints (rank/bucketize first otherwise).
    """
    from pyspark.sql import Column, functions as F

    n = len(cols)
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    key: Column = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cs):
            bit = F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, b * n + i)
    return key


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction for a parquet directory: rewrite into
    ``ceil(total_bytes / target_file_bytes)`` files.

    The maintenance half of streaming ingestion — micro-batches produce one
    file per batch per partition, and scan/open overhead grows linearly in
    file count until compaction folds them back into scan-sized files. On
    Delta/Iceberg this is OPTIMIZE / rewrite_data_files; the parquet
    emulation stages the rewrite in a sibling directory and swaps. The data
    is never lost at any crash point: the original directory is renamed to
    ``<path>.compact-old`` and kept until the staged copy is in place;
    ``recover_compact`` (run automatically at the start of every compact)
    finishes or rolls back an interrupted swap. Returns the new file count.
    """
    import math
    import os
    import shutil

    recover_compact(path)
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    staging = path.rstrip("/") + ".compact-staging"
    df.repartition(n).write.mode("overwrite").parquet(staging)
    old = path.rstrip("/") + ".compact-old"
    os.rename(path, old)
    os.rename(staging, path)  # recover_compact redoes this if we die here
    shutil.rmtree(old)
    return sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )


def recover_compact(path: str) -> None:
    """Finish or roll back a ``compact`` interrupted between its two renames.

    Invariant: ``.compact-old`` is deleted only after ``path`` exists again,
    so exactly one complete copy of the table survives any crash. If ``path``
    is missing, prefer the fully-written staging copy (the rewrite finished
    before the crash — promote it), else restore the old copy; stale staging
    directories are discarded once ``path`` is live.
    """
    import os
    import shutil

    staging = path.rstrip("/") + ".compact-staging"
    old = path.rstrip("/") + ".compact-old"
    if not os.path.exists(path):
        if os.path.exists(staging) and os.path.exists(
            os.path.join(staging, "_SUCCESS")
        ):
            os.rename(staging, path)
        elif os.path.exists(old):
            os.rename(old, path)
    if os.path.exists(path):
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)
