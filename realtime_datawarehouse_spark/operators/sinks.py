"""Sink-side operators (SURVEY.md §2.2): transient-column exclusion (K3),
append sinks, and PK-upsert sinks (K2/K4's MERGE contract).

- ``exclude_transient`` — the reference marks bean fields @TransientSink and
  skips them reflectively when binding the ClickHouse insert
  (rt/bean/TransientSink.java:13-16, rt/util/MyClickhouseUtil.java:37-41).
  Spark-first: a plain ``drop`` — declared once per sink, optimized into the
  plan (the dropped column is never even computed if nothing else needs it).
- ``append_sink`` — K3's batched JDBC insert generalizes to any append
  writer; batching is inherent to ``foreachBatch``/file commits, no 5-row
  flush machinery (MyClickhouseUtil.java:56-59) required.
- ``upsert_sink`` — K2 upsert-Kafka / K4 Phoenix upsert: last-write-wins by
  PK over a versioned parquet table (operators/table_store.py): executors
  write the merged snapshot as the next version directory and the commit is
  an atomic pointer flip — nothing materializes on the driver, so state
  size is bounded by the cluster, not driver memory. On Delta/Iceberg the
  body becomes a real MERGE and the collapse stays identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from realtime_datawarehouse_spark.operators import table_store


def exclude_transient(df: DataFrame, transient_cols: list[str]) -> DataFrame:
    """K3 @TransientSink: drop accumulator-only columns at the sink boundary."""
    return df.drop(*transient_cols)


def append_sink(
    df: DataFrame, path: str, fmt: str = "parquet", transient_cols: list[str] | None = None
) -> None:
    out = exclude_transient(df, transient_cols or [])
    out.write.format(fmt).mode("append").save(path)


def upsert_sink(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    pk: str,
    version_col: str,
    transient_cols: list[str] | None = None,
) -> None:
    """MERGE-by-PK over a versioned parquet table (table_store.merge_upsert).

    Newest ``version_col`` per ``pk`` wins across the existing state and the
    incoming batch — the reference's upsert-Kafka/Phoenix contract
    (SURVEY.md §7.4 #8). The merged plan reads the current version directory
    and executors write the next one; the commit is an atomic pointer flip,
    so there is no read-what-you-overwrite hazard and no driver-side
    materialization. Read the table back with ``table_store.read_state``.
    """
    incoming = exclude_transient(df, transient_cols or [])
    table_store.merge_upsert(spark, incoming, path, pk, version_col)

