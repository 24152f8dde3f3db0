"""JSON-lines datasource path: schema-on-read with corrupt-record
capture — the interchange format every crawl/curation pipeline has to
ingest alongside parquet.

Scale posture baked in:
- **Explicit schema, never inference.** ``spark.read.json`` without a
  schema runs a full extra pass over 100 TB just to guess types (and
  guesses unstably across samples). Callers pass the contract.
- **Splittable scans.** Uncompressed (or zstd-seekable) JSONL splits
  on line boundaries, so one huge file still fans out across
  executors; gzip does not split — a 100 TB drop of .gz files caps
  parallelism at #files (documented so layout reviews catch it).
- **Errors as data.** PERMISSIVE mode + a corrupt-record column routes
  undecodable lines to the same quarantine pattern as the CSV path
  (operators/errors.py) instead of failing the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def with_corrupt(schema: T.StructType) -> T.StructType:
    """Schema plus the corrupt-record capture column."""
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )


def split_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine): typed rows vs raw undecodable lines.

    Built as text-scan + ``from_json`` rather than the JSON datasource:
    the datasource forbids any plan whose pruned scan needs only the
    corrupt column (the quarantine side is exactly that), while
    ``from_json`` is an ordinary expression with no such restriction —
    and the one text scan serves both branches. Same architecture as
    the CSV error path in plans/pipeline.py."""
    from pyspark.sql import functions as F

    ext = with_corrupt(schema)
    parsed = (
        spark.read.text(path)
        .select(
            F.from_json(
                "value",
                ext,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
            ).alias("j"),
            F.col("value"),
        )
    )
    good = (
        parsed.filter(F.col(f"j.{CORRUPT_COL}").isNull())
        .select("j.*")
        .drop(CORRUPT_COL)
    )
    bad = parsed.filter(F.col(f"j.{CORRUPT_COL}").isNotNull()).select(
        F.col("value").alias(CORRUPT_COL)
    )
    return good, bad

