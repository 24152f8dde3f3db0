"""Error channel as data: the ``_errors`` array-column design.

The reference implements multi-way error side-outputs by catching
exceptions in each DoFn and emitting a 4-field error record to a
tagged output (reference ``batch_pipeline1.py:148-156, 207-215,
245-253, 284-291``; sink schema ``:80-85``). Spark DataFrames have no
side outputs, so we invert it: errors become a column.

- Every stage *appends* ``struct(stage, error_type, message)`` to an
  ``_errors`` array column instead of throwing.
- Later stages guard their work with ``size(_errors) = 0``
  (:func:`when_clean`) so a row that failed validation is never
  enriched/segmented: its derived columns stay null, matching the
  reference, where a failed row leaves the main stream (``:156,215``).
- Terminally, ``split_errors`` filters the one DataFrame into the good
  stream and the 4-field error stream; the reference's ``beam.Flatten``
  of four error PCollections (``:368-372``) becomes a no-op because all
  stages share one channel.

The helpers build Spark SQL text (CASE chains), not Columns, for the
same reason as ``functions.scoring``: each Column call costs ~10 py4j
round trips, so the stages of ``plans.pipeline`` are ``selectExpr``
text. Conditions and messages come in as SQL text.

This keeps the whole pipeline a single narrow, shuffle-free,
whole-stage-codegen'd pass at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.scoring import sql_name, sql_str
from ..schema import ERRORS_COL

# The fixed error enum: every ``error_type`` a pipeline stage emits. The
# CLI's per-type counts (and so ``--stats_table``) cover exactly these.
ERROR_TYPES = ("parsing_error", "data_validation")

_ERRORS = sql_name(ERRORS_COL)
_ERRORS_TYPE = "array<struct<stage:string,error_type:string,message:string>>"


class UnlistedErrorType(RuntimeError):
    """Error rows carry an ``error_type`` outside :data:`ERROR_TYPES`, so
    per-type counts would not add up to the error count."""


def first_error_chain(pairs: list[tuple[str, str, str, str]]) -> str:
    """A single CASE chain producing the ``_errors`` array: the first
    matching (cond, stage, error_type, message) wins; no match -> a
    typed empty array.

    Because the reference short-circuits on the first exception, a row
    carries AT MOST ONE error — so the channel is one linear-size
    expression instead of iterated self-referencing appends (which
    Catalyst's projection collapse would expand to a 3^n-node tree:
    guard + append + otherwise each copy the previous expression).
    """
    assert pairs, "need at least one error condition"
    whens = " ".join(
        f"WHEN {cond} THEN array(named_struct({sql_str('stage')}, {sql_str(stage)}, "
        f"{sql_str('error_type')}, {sql_str(error_type)}, {sql_str('message')}, {message}))"
        for cond, stage, error_type, message in pairs
    )
    return f"CASE {whens} ELSE CAST(array() AS {_ERRORS_TYPE}) END"


def set_errors(pairs: list[tuple[str, str, str, str]]) -> str:
    """Extend an installed error channel: rows already carrying an
    error keep it (short-circuit across stages), the rest get
    :func:`first_error_chain`."""
    return f"CASE WHEN size({_ERRORS}) > 0 THEN {_ERRORS} ELSE {first_error_chain(pairs)} END"


def is_clean() -> str:
    return f"size({_ERRORS}) = 0"


def when_clean(expr: str) -> str:
    """Guard a derived column so failed rows stay null — the Spark
    equivalent of the reference's 'record leaves the main stream'."""
    return f"CASE WHEN {is_clean()} THEN {expr} END"


def split_errors(df: DataFrame, timestamp: str) -> tuple[DataFrame, DataFrame]:
    """Split into (good, errors); errors take the reference's 4-field
    shape ``{raw_data, error_message, error_type, timestamp}``
    (``batch_pipeline1.py:80-85``), with ``raw_data`` from the ``_raw``
    line. Only the *first* error per row is emitted, matching the
    reference's exception short-circuit. ``timestamp`` is SQL text,
    the same stamp the pipeline puts on the good rows.
    """
    good = df.filter(is_clean()).drop(ERRORS_COL)
    # try_element_at: null-safe even if the optimizer evaluates the
    # projection before the size>0 filter (ANSI element_at would throw)
    first = f"try_element_at({_ERRORS}, 1)"
    bad = df.filter(f"NOT ({is_clean()})").selectExpr(
        "_raw AS raw_data",
        f"concat({first}.stage, {sql_str(': ')}, {first}.message) AS error_message",
        f"{first}.error_type AS error_type",
        f"{timestamp} AS timestamp",
    )
    return good, bad
