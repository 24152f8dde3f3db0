"""Error channel as data: the ``_errors`` array-column design.

The reference implements multi-way error side-outputs by catching
exceptions in each DoFn and emitting a 4-field error record to a
tagged output (reference ``batch_pipeline1.py:148-156, 207-215,
245-253, 284-291``; sink schema ``:80-85``). Spark DataFrames have no
side outputs, so we invert it: errors become a column.

- Every stage *appends* ``struct(stage, error_type, message)`` to an
  ``_errors`` array column instead of throwing.
- Later stages guard their work with ``size(_errors) == 0`` so a row
  that failed validation is never enriched/segmented — matching the
  reference, where a failed row leaves the main stream (``:156,215``).
- Terminally, ``split_errors`` filters the one DataFrame into the good
  stream and the 4-field error stream; the reference's ``beam.Flatten``
  of four error PCollections (``:368-372``) becomes a no-op because all
  stages share one channel.

This keeps the whole pipeline a single narrow, shuffle-free,
whole-stage-codegen'd pass at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import ERRORS_COL

# The fixed error enum: every ``error_type`` a pipeline stage emits. The
# CLI's per-type counts (and so ``--stats_table``) cover exactly these.
ERROR_TYPES = ("parsing_error", "data_validation")


class UnlistedErrorType(RuntimeError):
    """Error rows carry an ``error_type`` outside :data:`ERROR_TYPES`, so
    per-type counts would not add up to the error count."""


def empty_errors() -> Column:
    """A typed empty ``_errors`` array."""
    return F.array().cast("array<struct<stage:string,error_type:string,message:string>>")


def error_entry(stage: str, error_type: str, message: Column) -> Column:
    return F.struct(
        F.lit(stage).alias("stage"),
        F.lit(error_type).alias("error_type"),
        message.alias("message"),
    )


def first_error_chain(pairs: list[tuple[Column, str, str, Column]]) -> Column:
    """A single CASE chain producing the ``_errors`` array: the first
    matching (cond, stage, error_type, message) wins; no match -> empty.

    Because the reference short-circuits on the first exception, a row
    carries AT MOST ONE error — so the channel is one linear-size
    expression instead of iterated self-referencing appends (which
    Catalyst's projection collapse would expand to a 3^n-node tree:
    guard + append + otherwise each copy the previous expression).
    """
    expr: Column | None = None
    for cond, stage, error_type, message in pairs:
        entry = F.array(error_entry(stage, error_type, message))
        expr = F.when(cond, entry) if expr is None else expr.when(cond, entry)
    assert expr is not None, "need at least one error condition"
    return expr.otherwise(empty_errors())


def set_errors(df: DataFrame, pairs: list[tuple[Column, str, str, Column]]) -> DataFrame:
    """Install/extend the error channel in ONE projection. Rows already
    carrying an error keep it (short-circuit across stages)."""
    chain = first_error_chain(pairs)
    if ERRORS_COL in df.columns:
        chain = F.when(F.size(F.col(ERRORS_COL)) > 0, F.col(ERRORS_COL)).otherwise(chain)
    return df.withColumn(ERRORS_COL, chain)


def is_clean() -> Column:
    return F.size(F.col(ERRORS_COL)) == 0


def when_clean(expr: Column) -> Column:
    """Guard a derived column so failed rows stay null — the Spark
    equivalent of the reference's 'record leaves the main stream'."""
    return F.when(is_clean(), expr)


def split_errors(
    df: DataFrame, raw_col: str = "_raw", timestamp: Column | None = None
) -> tuple[DataFrame, DataFrame]:
    """Split into (good, errors); errors take the reference's 4-field
    shape ``{raw_data, error_message, error_type, timestamp}``
    (``batch_pipeline1.py:80-85``). Only the *first* error per row is
    emitted, matching the reference's exception short-circuit.
    """
    ts = timestamp if timestamp is not None else F.date_format(
        F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"
    )
    good = df.filter(is_clean()).drop(ERRORS_COL)
    # try_element_at: null-safe even if the optimizer evaluates the
    # projection before the size>0 filter (ANSI element_at would throw)
    first = F.try_element_at(F.col(ERRORS_COL), F.lit(1))
    bad = (
        df.filter(~is_clean())
        .select(
            F.col(raw_col).alias("raw_data"),
            F.concat(first["stage"], F.lit(": "), first["message"]).alias("error_message"),
            first["error_type"].alias("error_type"),
            ts.alias("timestamp"),
        )
    )
    return good, bad
