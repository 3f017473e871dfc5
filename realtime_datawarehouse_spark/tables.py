"""Canonical readers for the test/bench star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under an ``sf_dir``.

Reads are plain ``spark.read.parquet`` so Catalyst keeps full pushdown /
pruning freedom; never cache here (callers decide). FIXTURES.md §4 maps the
reference's input surfaces (topic_log, topic_db Maxwell rows, base_dic,
dim tables) onto these tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# The driver-generated parquet stores TIMESTAMP(NANOS), which Spark's vectorized
# reader rejects (PARQUET_TYPE_ILLEGAL). We read nanos as raw int64 and truncate
# to micros — exactly what DuckDB does when it loads the same files, so oracle
# comparisons see identical instants.
_NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    for col in _NANO_TS_COLUMNS.get(name, ()):
        if isinstance(df.schema[col].dataType, LongType):
            # integer division — float division would lose precision at 1e18
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif isinstance(df.schema[col].dataType, TimestampNTZType):
            # micros-precision columns arrive NTZ; normalize to TIMESTAMP so
            # event-time ops (withWatermark requires LTZ) work uniformly —
            # with the UTC session zone the wall-clock values are unchanged,
            # exactly how DuckDB treats the same naive values
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so plans can be written in SQL."""
    for n in TABLE_NAMES:
        table(spark, sf_dir, n).createOrReplaceTempView(n)
