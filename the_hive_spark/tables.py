"""Loaders for the driver-provided TPC-H-ish parquet tables.

Tables (see TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings. All loads are plain
``spark.read.parquet`` so Catalyst gets full filter pushdown + column
pruning on the scan.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
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
]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Normalize events.ts to TIMESTAMP (with-tz, session TZ pinned
        # UTC) regardless of how the parquet stored it:
        # - TIMESTAMP(NANOS) reads as ns-long (session.py nanosAsLong):
        #   floor-divide to µs, same truncation DuckDB applies casting
        #   TIMESTAMP_NS → TIMESTAMP;
        # - TIMESTAMP(MICROS, isAdjustedToUTC=0) reads as TIMESTAMP_NTZ:
        #   cast to TIMESTAMP — a wall-clock reinterpretation under the
        #   UTC session zone, matching the oracle's CAST(ts AS TIMESTAMP).
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so ``spark.sql`` works directly."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
