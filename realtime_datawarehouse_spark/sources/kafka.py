"""Kafka source builders (S1/S2) and the upsert-topic read contract (K2).

Reference mechanics re-expressed:

- S1 consumer with null-tolerant deserializer (rt/util/MyKafkaUtil.java:25-51):
  Spark's Kafka source never crashes on tombstones; we filter null values
  explicitly, which is the whole custom-deserializer story.
- K1 exactly-once txn producer (MyKafkaUtil.java:54-69): there is no Kafka
  sink builder; each topic hop of the stream topology is a checkpointed
  file sink (streaming/pipelines.py ``_boundary``), and end-to-end
  idempotence comes from PK-keyed MERGE writes (K2's upsert-Kafka
  contract — SURVEY.md §2.2 K2, §7.4 #8).
- K2 upsert topic: messages keyed by PK; readers collapse to
  last-value-per-key via ``latest_by_key`` (ST7's formulation).

This container has no Kafka broker or spark-sql-kafka package, so builders
raise a clear error when the integration is missing; everything downstream
of the source (parse → operators → sinks) is covered by the batch tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DEFAULT_BOOTSTRAP = "localhost:9092"


def _kafka_available(spark: SparkSession) -> bool:
    # NB: plain `spark._jvm.org...KafkaSourceProvider` attribute access does
    # NOT raise for a missing class — py4j hands back a lazy JavaPackage —
    # so probe the classloader explicitly.
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def read_stream(
    spark: SparkSession,
    topic: str,
    bootstrap: str = DEFAULT_BOOTSTRAP,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1/S2: streaming Kafka source → (key string, value string) rows with
    tombstones (null values) filtered, as the reference's deserializer does."""
    if not _kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka integration not on the classpath; add the "
            "org.apache.spark:spark-sql-kafka-0-10 package to use Kafka "
            "sources (S1/S2). All operator logic is Kafka-independent."
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.where(F.col("value").isNotNull()).select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )


def latest_by_key(df: DataFrame, key: str, version_col: str) -> DataFrame:
    """Upsert-topic read contract: last value per key wins
    (SURVEY.md §7.4 #8 — replaces Flink's retract/upsert materialization)."""
    w = Window.partitionBy(key).orderBy(F.col(version_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
