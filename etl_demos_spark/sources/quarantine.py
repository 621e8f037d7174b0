"""Malformed-input quarantine and schema-drift handling.

The reference loads CSVs with BigQuery autodetect and simply fails the
load job on malformed rows (load_raw_to_bq.py:67-77 — the Airflow task
errors and retries). A production engine needs the non-stop path:

- ``read_csv_quarantine``: PERMISSIVE parse against the declared schema;
  rows that fail land intact in a corrupt-record column and are split
  into a quarantine DataFrame (with the raw line preserved for triage)
  while clean rows flow on. No row is silently dropped or nulled.
- ``read_parquet_evolving``: schema-merged parquet reads for drifting
  sources (new columns appear as nulls on old files), the batch analog of
  the reference's "self-extending pipeline" promise.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def read_csv_quarantine(
    spark: SparkSession, path: str, schema: StructType, **options
) -> tuple[DataFrame, DataFrame]:
    """Returns (clean, quarantined). ``schema`` is the staging contract;
    the corrupt column is appended internally and stripped on return."""
    full_schema = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    raw = (
        spark.read.schema(full_schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .options(**options)
        .csv(path)
    )
    # Spark requires materializing before filtering on the corrupt
    # column (it is populated only during parsing of referenced
    # columns). Eager localCheckpoint satisfies that like cache() does,
    # without leaking a CacheManager entry per call — both returned
    # frames reference raw, so there is no unpersist point.
    raw = raw.localCheckpoint(eager=True)
    clean = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantined = raw.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantined


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-merged read: files written with different (compatible)
    schemas unify; columns absent from older files read as NULL."""
    return spark.read.option("mergeSchema", True).parquet(path)
