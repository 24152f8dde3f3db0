"""Loaders for the driver-provided TPC-H-ish parquet tables.

Columnar parquet scans give Catalyst column pruning + predicate
pushdown for free; check ``.explain`` shows ``PushedFilters`` /
``ReadSchema`` when consuming these.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def snapshot_key(sf_dir: str, files: tuple[str, ...], *params) -> str:
    """Content fingerprint of one corpus snapshot: abs path + size +
    mtime_ns of each of ``files`` (names under ``sf_dir``), plus
    ``params`` (model hyper-params, copy counts, ...). A regenerated
    fixture gets a fresh key, so nothing keyed on it is silently
    reused across snapshots. The one place that stats a source file
    for a cache key; 16 hex digits."""
    parts = []
    for name in files:
        src = os.path.join(os.path.abspath(sf_dir), name)
        st = os.stat(src)
        parts.append(f"{src}|{st.st_size}|{st.st_mtime_ns}")
    parts.extend(map(str, params))
    return hashlib.md5("||".join(parts).encode()).hexdigest()[:16]


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
