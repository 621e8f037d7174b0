"""Testdata catalog: load the driver's TPC-H-ish parquet tables.

Tables (per TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings. All reads are plain vectorized
parquet scans — Catalyst sees the files directly so predicate pushdown and
column pruning reach the scan.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_demos_spark.session import configure_runtime

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; events gets its nanos→timestamp_ntz fix."""
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ts as TIMESTAMP(NANOS), which Spark's reader
    rejects. With ``nanosAsLong`` the scan stays vectorized (ts arrives as
    epoch-nanos bigint) and we convert to timestamp_ntz losslessly at
    microsecond precision (matching Spark's native timestamp resolution).
    """
    configure_runtime(spark)  # ensures nanosAsLong before schema inference
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes)["ts"] in ("bigint", "long"):
        # Integer `div`, not `/`: epoch-nanos (~1.7e18) exceed 2^53, so a
        # double division would round and shift some values by 1 µs.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
