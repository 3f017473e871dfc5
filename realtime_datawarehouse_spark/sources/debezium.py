"""Debezium envelope + table_process config surface (S4, config-as-data R4).

Envelope (rt/app/func/TableProcessFunction.java:78-81, rt-test/TestFlinkCDC.java:41-44):
    {before, after, op ∈ r|c|u|d, source, ts_ms}

The reference streams the MySQL ``table_process`` config table through Flink
CDC and broadcasts it to every task (rt/app/dim/DimApp.java:146-166). In
Spark the config becomes a small DataFrame refreshed per micro-batch and
broadcast-joined — no MapState machinery (SURVEY.md §2.4 R4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

TABLE_PROCESS_SCHEMA = StructType(
    [
        StructField("source_table", StringType()),
        StructField("sink_table", StringType()),
        StructField("sink_columns", StringType()),  # CSV, as stored in MySQL
        StructField("sink_pk", StringType()),
        StructField("sink_extend", StringType()),
    ]
)

DEBEZIUM_SCHEMA = StructType(
    [
        StructField("before", TABLE_PROCESS_SCHEMA),
        StructField("after", TABLE_PROCESS_SCHEMA),
        StructField("op", StringType()),  # r(ead)|c(reate)|u(pdate)|d(elete)
        StructField("ts_ms", StringType()),
    ]
)


def parse_envelope(raw: DataFrame, json_col: str = "value") -> DataFrame:
    return raw.select(
        F.from_json(F.col(json_col), DEBEZIUM_SCHEMA).alias("d")
    ).select("d.*")


def latest_config(env: DataFrame) -> DataFrame:
    """Collapse a Debezium changelog into the current config snapshot:
    deletes remove the key, the newest non-delete wins — what the broadcast
    MapState holds after processing the stream
    (TableProcessFunction.java:84-115)."""
    keyed = env.select(
        F.when(F.col("op") == "d", F.col("before.source_table"))
        .otherwise(F.col("after.source_table"))
        .alias("key"),
        F.col("op"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
        F.col("after"),
    )
    w = Window.partitionBy("key").orderBy(F.col("ts_ms").desc())
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "d"))
        .select("after.*")
    )


def config_from_rows(
    spark: SparkSession, rows: list[dict[str, str | None]]
) -> DataFrame:
    """S7-style literal config source (tests / bootstrap). The rows are
    typed literals in the plan, so reading or broadcasting the config is a
    one-task JVM job, not a round trip through a Python worker."""
    structs = [
        F.struct(
            *[
                F.lit(r.get(f.name)).cast(f.dataType).alias(f.name)
                for f in TABLE_PROCESS_SCHEMA
            ]
        )
        for r in rows
    ]
    return spark.range(1, numPartitions=1).select(
        F.inline(F.array(*structs).cast(ArrayType(TABLE_PROCESS_SCHEMA)))
    )


def snapshot_envelopes(config_rows: DataFrame) -> DataFrame:
    """Render a table snapshot as op='r' Debezium envelopes — what Flink-CDC
    emits for every existing row before switching to the binlog
    (rt/app/dim/DimApp.java:147-158, StartupOptions.initial)."""
    return config_rows.select(
        F.lit(None).cast(TABLE_PROCESS_SCHEMA).alias("before"),
        F.struct(*[F.col(c) for c in TABLE_PROCESS_SCHEMA.fieldNames()]).alias(
            "after"
        ),
        F.lit("r").alias("op"),
        F.lit("0").alias("ts_ms"),
    )


def prime_snapshot_then_tail(
    spark: SparkSession, in_dir: str, config_rows: DataFrame
) -> DataFrame:
    """Initial-snapshot + tail semantics over ONE streaming query: the
    snapshot is written as the first file of the stream directory (op='r'
    envelopes, ts_ms=0), so micro-batch 0 replays the snapshot and every
    later file is the binlog tail — exactly Flink-CDC's
    ``StartupOptions.initial`` contract. Downstream ``latest_config``
    collapse makes snapshot-vs-binlog indistinguishable (newest ts wins;
    deletes remove), so consumers need no mode switch.

    Returns the primed envelope stream (one file per micro-batch). Appending
    later files to ``in_dir`` is the binlog tail.
    """
    snapshot_envelopes(config_rows).coalesce(1).write.mode("append").parquet(
        in_dir
    )
    return (
        spark.readStream.schema(DEBEZIUM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
