"""Loaders for the driver-provided TPC-H-ish parquet tables.

Columnar parquet scans give Catalyst column pruning + predicate
pushdown for free; check ``.explain`` shows ``PushedFilters`` /
``ReadSchema`` when consuming these.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    assert name in TABLES, f"unknown table {name}"
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # The driver parquet has shipped ts in different encodings
        # across rounds; normalize every one to micros-precision
        # TimestampType so downstream operators (unix_micros, windows)
        # see one type:
        #   - INT64 TIMESTAMP(NANOS): arrives as long nanos under
        #     spark.sql.legacy.parquet.nanosAsLong. DuckDB (the oracle)
        #     truncates nanos -> micros on read, so the parity-exact
        #     conversion is integer-div by 1000 (NOT float division:
        #     1.7e18 ns exceeds double's 2^53 exact-int range).
        #   - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
        #     TIMESTAMP_NTZ; the session TZ is pinned UTC
        #     (session.py:33), so a cast reinterprets the naive value
        #     as UTC — exactly how DuckDB epochs a naive timestamp.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
