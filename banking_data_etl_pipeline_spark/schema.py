"""Schemas for the bank-marketing pipeline.

Mirrors the reference's declared shapes:
- input: 17-column semicolon CSV (reference
  ``batch_processing/batch_pipeline1.py:19,117-140``; column order per
  the parse code ``:121-138``),
- processed sink: 29 fields (``PROCESSED_DATA_SCHEMA``, ``:48-78``),
- error sink: 4 fields (``ERROR_SCHEMA``, ``:80-85``).

BigQuery INTEGER is 64-bit, hence LongType; BigQuery FLOAT is 64-bit,
hence DoubleType (SURVEY.md §1 mapping table).
"""

from __future__ import annotations

from pyspark.sql import types as T

# The 17 raw CSV columns, in file order. (name, post-parse Spark type)
BANK_COLUMNS: list[tuple[str, T.DataType]] = [
    ("age", T.LongType()),
    ("job", T.StringType()),
    ("marital", T.StringType()),
    ("education", T.StringType()),
    ("default", T.StringType()),
    ("balance", T.DoubleType()),
    ("housing", T.StringType()),
    ("loan", T.StringType()),
    ("contact", T.StringType()),
    ("day", T.LongType()),
    ("month", T.StringType()),
    ("duration", T.LongType()),
    ("campaign", T.LongType()),
    ("pdays", T.LongType()),
    ("previous", T.LongType()),
    ("poutcome", T.StringType()),
    ("y", T.StringType()),
]

NUM_CSV_COLUMNS = 17  # reference batch_pipeline1.py:19

INT_FIELDS = ["age", "day", "duration", "campaign", "pdays", "previous"]
FLOAT_FIELDS = ["balance"]
CATEGORICAL_FIELDS = [
    "job", "marital", "education", "default", "housing", "loan",
    "contact", "month", "poutcome", "y",
]

# Typed schema after parse+cast.
BANK_SCHEMA = T.StructType(
    [T.StructField(name, dtype, True) for name, dtype in BANK_COLUMNS]
)

# Error record shape (reference batch_pipeline1.py:80-85,150-155).
ERROR_SCHEMA = T.StructType(
    [
        T.StructField("raw_data", T.StringType(), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("error_type", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
    ]
)

# Internal error-channel entry (one per failed stage, accumulated in an
# ``_errors`` array column — SURVEY.md §2 row 17 design).
ERROR_ENTRY = T.StructType(
    [
        T.StructField("stage", T.StringType(), True),
        T.StructField("error_type", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
    ]
)

ERRORS_COL = "_errors"

# Derived/enrichment columns added by the pipeline, in sink order
# (reference PROCESSED_DATA_SCHEMA batch_pipeline1.py:48-78).
DERIVED_COLUMNS = [
    "age_group",
    "wealth_segment",
    "contact_day_type",
    "has_loans",
    "engagement_score",
    "rfm_scores",
    "customer_segment",
]

LINEAGE_COLUMNS = [
    "processing_timestamp",
    "_ingestion_timestamp",
    "_processing_timestamp",
    "_batch_id",
    "_pipeline_version",
]

PIPELINE_VERSION = "1.2"  # reference batch_pipeline1.py:281
