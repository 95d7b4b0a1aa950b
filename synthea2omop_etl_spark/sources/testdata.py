"""Loaders for the driver-provided deterministic parquet test tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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

# Dimensions that are always small relative to facts and safe to broadcast.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark's reader
        # rejects unless nanosAsLong is on. The conf is runtime-settable,
        # so set it here too — callers (e.g. an externally built
        # SparkSession) need not have configured it at build time.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS): read as long nanos
        # (spark.sql.legacy.parquet.nanosAsLong) and truncate to micros —
        # exactly what DuckDB's reader does, so oracles agree.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # Newer testdata stores tz-naive micros, which Spark reads as
            # TIMESTAMP_NTZ (inferTimestampNTZ default). Normalize to
            # TIMESTAMP under an explicitly-UTC session tz so the instant
            # is identical and matches DuckDB's naive-as-UTC epoch()
            # semantics. The conf is pinned HERE (like nanosAsLong above)
            # because load_table supports externally built SparkSessions —
            # a non-UTC session would otherwise shift the instant during
            # the NTZ→TZ cast and silently diverge from the oracle. NTZ
            # also rejects direct casts to numeric, which downstream epoch
            # math relies on.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

