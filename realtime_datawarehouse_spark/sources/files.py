"""File-format sources/sinks: CSV, JSON-lines, ORC, Parquet.

The reference ingests Kafka JSON and lands ODS/DWD tables; a Spark
deployment additionally exchanges batch extracts as CSV/JSONL and keeps
columnar tables as Parquet/ORC. These are thin, schema-explicit wrappers
over the native readers — the point is the CONTRACT each format carries,
asserted in tests/test_sources.py round-trips:

- CSV: header on, explicit schema (never inferSchema at scale — a full
  extra pass), timestamps as formatted strings.
- JSONL: explicit schema (schema inference samples the data — another
  pass, and a drifting schema under it).
- ORC/Parquet: schema-carrying columnar; partitioned writes prune on read
  (asserted via the partition filter reaching the scan).

Write paths go through ``coalesce``-free ``write`` so executor
parallelism is preserved; partitioning is the caller's choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def write_csv(df: DataFrame, path: str, **options) -> None:
    df.write.mode("overwrite").options(header=True, **options).csv(path)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    return spark.read.options(header=True).schema(schema).csv(path)


def write_jsonl(df: DataFrame, path: str, **options) -> None:
    df.write.mode("overwrite").options(**options).json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_orc(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
