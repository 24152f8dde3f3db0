"""The bank-marketing ETL pipeline, composed of pure DataFrame stages.

Stage-for-stage parity with the reference's four DoFns (reference
``batch_processing/batch_pipeline1.py``):

- ``parse_stage``      ~ ParseCSVFn            (:109-156)
- ``validate_stage``   ~ ValidateAndEnrichFn   (:165-172, validation half)
- ``enrich_stage``     ~ ValidateAndEnrichFn   (:176-203, enrichment half)
- ``segment_stage``    ~ CustomerSegmentationFn (:222-253)
- ``prepare_stage``    ~ PrepareForBigQueryFn  (:271-291)

but with errors as data (see ``operators.errors``) so the whole thing
is ONE narrow shuffle-free stage under whole-stage codegen: at 100 TB
this runs embarrassingly parallel at the parquet/CSV split level, with
no skew surface and no shuffle at all.

The stages are Spark SQL text in ``selectExpr``. Built from PySpark
Column calls, the plan takes ~530 calls at ~10 py4j round trips each
(the ``_with_origin`` call-site capture around every ``F.*`` call):
~6k round trips and ~0.7 s before Spark reads a byte. As text the JVM
parses each select once, in a few round trips. Each stage is one
select, except where a value is read more than once: ``parse_stage``'s
typed casts and ``segment_stage``'s three RFM scores get a select of
their own, so Catalyst keeps them computed once per row (written
inline, each would be evaluated at every use). Three more things in the
text are load-bearing:

- the ``size(_errors) = 0`` guard (``errors.when_clean``) around every
  derived column, so a failed row's enrichment stays null;
- the ``explode(array(from_csv(...)))`` barrier in ``parse_stage``,
  so the CSV is parsed once per row (see there);
- the ``inline(array(named_struct(...)))`` barrier that ends
  ``validate_stage``, so the terminal filters do not carry the error
  chains into every projection, and each generated method stays under
  HotSpot's 8,000-byte JIT limit (see there).

The CLI (``main``) adds two things around the stages and keeps each
sink one narrow stage with no exchange: its text scan cuts even a
small CSV into one split per core (``cli_lines`` sizes Spark's file
splits for the two writes), so the parse runs on every core without a
shuffle, and the error statistics ride the error write as an
``Observation`` instead of a third scan and a ``groupBy``.

Determinism: the reference stamps wall-clock timestamps and a uuid4
*per record* (:278-282 — yes, per record, despite the `_batch_id`
name). The CLI keeps a uuid4-shaped id per record, built from one
uuid4 per run (``PipelineConfig.run_id``, also the manifest's
``batch_id``) and the row's ``monotonically_increasing_id()``. Neither
part enters the generated Java source, so every run in a session
reuses one compiled class (see ``prepare_stage``). Wall-clock stamps
and per-run ids break oracle hashing, so ``PipelineConfig`` can inject
a fixed timestamp and derive batch ids as md5(row-key) instead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import time
import uuid
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import scoring
from ..functions.scoring import sql_name, sql_str
from ..operators import errors as E
from ..schema import (
    BANK_COLUMNS,
    ERRORS_COL,
    FLOAT_FIELDS,
    INT_FIELDS,
    NUM_CSV_COLUMNS,
    PIPELINE_VERSION,
)
from ..session import conf_override, get_spark

DEFAULT_MIN_AGE = 18  # reference batch_pipeline1.py:20
DEFAULT_MAX_AGE = 100  # reference batch_pipeline1.py:21

PARSING_ERROR, DATA_VALIDATION = E.ERROR_TYPES


@dataclass
class PipelineConfig:
    min_age: int = DEFAULT_MIN_AGE
    max_age: int = DEFAULT_MAX_AGE
    # deterministic mode: fixed timestamps, md5 batch ids (test/oracle)
    fixed_timestamp: str | None = None
    id_col: str | None = None  # row-key column for deterministic batch ids
    # one uuid4 per run: the CLI manifest's batch_id, and the stem of
    # every row's _batch_id when id_col is None (see prepare_stage)
    run_id: str = field(default_factory=lambda: str(uuid.uuid4()), init=False)


_ISO_SECONDS = sql_str("yyyy-MM-dd'T'HH:mm:ssxxx")


def _ts(cfg: PipelineConfig) -> str:
    if cfg.fixed_timestamp is not None:
        return sql_str(cfg.fixed_timestamp)
    return f"date_format(current_timestamp(), {_ISO_SECONDS})"


# ---------------------------------------------------------------- parse

def parse_stage(lines: DataFrame, cfg: PipelineConfig, line_col: str = "line") -> DataFrame:
    """Raw semicolon-CSV lines -> typed bank columns + ``_errors``.

    Replaces reference ops 1-5 (SURVEY.md §2): CSV split with
    quote-awareness (``from_csv``), 17-column check (:118-119), typed
    casts with per-field failure capture (:121-138 — ``try_cast`` so
    ANSI mode routes bad values to the error channel instead of
    aborting), categorical lower/trim (:123-138), ingestion stamp
    (:139).
    """
    # Parse against an 18-column all-string schema: c17 non-null means
    # >17 columns; c16 (the 17th) null means <17.
    #
    # The explode(array(...)) wrapper is load-bearing: a Generate node
    # is an optimizer barrier, so the terminal good/bad filters (which
    # Catalyst pushes down through every projection, substituting
    # aliases as it goes) stop at the generator instead of inlining
    # from_csv once per reference — without it the pushed filter
    # evaluates from_csv ~66x per row and the fused stage blows the
    # JVM 64KB method limit (codegen falls back to interpreted).
    # explode(array(x)) yields exactly one row per input, so semantics
    # are unchanged.
    wide_ddl = ", ".join(f"c{i} string" for i in range(NUM_CSV_COLUMNS + 1))
    line = sql_name(line_col)
    options = ", ".join(sql_str(s) for s in ("sep", ";", "quote", '"'))
    parsed = lines.selectExpr(
        f"{line} AS _raw",
        f"explode(array(from_csv({line}, {sql_str(wide_ddl)}, map({options})))) AS p",
    )

    # Typed casts (try_cast so ANSI mode routes bad values to the error
    # channel instead of aborting); categoricals lower+trim (:123-138).
    # The raw strings of the numeric fields ride along for the error
    # messages. The casts get their own select so the error channel
    # below reads them by name: one cast per field and row.
    field = {name: f"p.c{i}" for i, (name, _) in enumerate(BANK_COLUMNS)}
    numeric = [name for name in field if name in INT_FIELDS or name in FLOAT_FIELDS]
    typed = parsed.selectExpr(
        "_raw",
        f"p.c{NUM_CSV_COLUMNS - 1} IS NULL OR p.c{NUM_CSV_COLUMNS} IS NOT NULL AS _ncols_bad",
        *(f"{field[name]} AS _s_{name}" for name in numeric),
        *(
            f"try_cast(trim({field[name]}) AS {dtype.simpleString()}) AS {sql_name(name)}"
            if name in numeric
            else f"lower(trim({field[name]})) AS {sql_name(name)}"
            for name, dtype in BANK_COLUMNS
        ),
    )

    # Error channel in ONE expression, first-match-wins in the
    # reference's evaluation order: column count (:118-119), then the
    # numeric casts in column order (:121-138).
    pairs = [
        ("_ncols_bad", "ParseError", PARSING_ERROR, sql_str(f"expected {NUM_CSV_COLUMNS} columns"))
    ]
    for name in numeric:
        raw = f"trim(_s_{name})"
        message = sql_str(f"invalid value for '{name}': ")
        pairs.append(
            (
                f"{sql_name(name)} IS NULL AND {raw} IS NOT NULL AND {raw} != {sql_str('')}",
                "ParseError",
                PARSING_ERROR,
                f"concat({message}, _s_{name})",
            )
        )
    df = typed.selectExpr(
        "_raw",
        *(sql_name(name) for name, _ in BANK_COLUMNS),
        f"{E.first_error_chain(pairs)} AS {ERRORS_COL}",
    )
    return df.selectExpr("*", f"{E.when_clean(_ts(cfg))} AS _ingestion_timestamp")


# ------------------------------------------------------------- validate

def validate_stage(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Required-field + age-range validation (reference :142-145,
    :167-172). The isinstance type-check (:167-168) is subsumed by the
    typed schema."""
    lo, hi = int(cfg.min_age), int(cfg.max_age)
    errors = E.set_errors(
        [
            (
                "age IS NULL OR job IS NULL OR balance IS NULL",
                "ValidationError",
                DATA_VALIDATION,
                sql_str("missing required field (age/job/balance)"),
            ),
            (
                f"NOT (age >= {lo} AND age <= {hi})",
                "ValidationError",
                DATA_VALIDATION,
                f"concat({sql_str(f'age out of range [{lo}, {hi}]: ')}, CAST(age AS STRING))",
            ),
        ]
    )
    checked = df.selectExpr(
        *(f"{errors} AS {ERRORS_COL}" if c == ERRORS_COL else sql_name(c) for c in df.columns)
    )
    # A second generator barrier, like parse_stage's: the terminal
    # good/bad filters stop here instead of being pushed through every
    # projection with both error chains inlined, and whole-stage
    # codegen gives what reads the generator's rows a method of its
    # own, so no fused method passes HotSpot's 8,000-byte JIT limit.
    # One row in, one row out.
    fields = ", ".join(f"{sql_str(c)}, {sql_name(c)}" for c in df.columns)
    return checked.selectExpr(f"inline(array(named_struct({fields})))")


# --------------------------------------------------------------- enrich

def enrich_stage(df: DataFrame) -> DataFrame:
    """The five derived features (reference :176-203), null for rows
    already in the error channel."""
    return df.selectExpr(
        "*",
        f"{E.when_clean(scoring.age_group('age'))} AS age_group",
        f"{E.when_clean(scoring.wealth_segment('balance'))} AS wealth_segment",
        f"{E.when_clean(scoring.contact_day_type('day'))} AS contact_day_type",
        f"{E.when_clean(scoring.has_loans('housing', 'loan'))} AS has_loans",
        f"{E.when_clean(scoring.engagement_score('previous', 'campaign', 'duration', 'y'))}"
        " AS engagement_score",
    )


# -------------------------------------------------------------- segment

def segment_stage(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """RFM scoring + JSON encode + tier (reference :222-253). The three
    scores get their own select: the JSON and the tier read each of
    them by name, so it is computed once per row."""
    scored = df.selectExpr(
        "*",
        f"{scoring.recency_score('pdays')} AS _r",
        f"{scoring.frequency_score('previous')} AS _f",
        f"{scoring.monetary_score('balance')} AS _m",
    )
    return scored.selectExpr(
        "*",
        f"{E.when_clean(scoring.rfm_json('_r', '_f', '_m'))} AS rfm_scores",
        f"{E.when_clean(scoring.customer_segment('_r', '_f', '_m'))} AS customer_segment",
        f"{E.when_clean(_ts(cfg))} AS _processing_timestamp",
    ).drop("_r", "_f", "_m")


# -------------------------------------------------------------- prepare

def prepare_stage(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Lineage stamps (reference :276-291). The reference generates a
    fresh uuid4 PER RECORD (:280) despite the `_batch_id` name; we keep
    per-record ids. In deterministic mode the id is md5 of
    ``cfg.id_col``. Otherwise it is the run id
    ``xxxxxxxx-xxxx-4xxx-yxxx-xxxxxxxxxxxx`` (``cfg.run_id``) with the
    row's ``monotonically_increasing_id()``, as 16 hex digits
    ``h0``..``h15``, written over 16 of its digits:
    ``xxxxxxxx-xxxx-4xxh0-yh1h2h3-h4...h15``. That is a uuid4 string,
    unique per row at any partition count (all 64 bits are kept), new
    in every run, and linked to its run by its first 17 characters and
    its variant ``y``. Neither part enters the generated source
    (codegen passes a string literal as a reference), so every run in
    a session reuses one compiled class; ``uuid()`` compiled a fresh
    seed into each run's source.
    """
    if cfg.id_col is not None:
        batch_id = f"md5(CAST({sql_name(cfg.id_col)} AS STRING))"
    else:
        # the row id is read three times, so it gets a select of its own
        row_hex = f"lpad(lower(hex(monotonically_increasing_id())), 16, {sql_str('0')})"
        df = df.selectExpr("*", f"{row_hex} AS _row_hex")
        run = cfg.run_id
        batch_id = (
            f"concat({sql_str(run[:17])}, substr(_row_hex, 1, 1), {sql_str('-' + run[19])},"
            f" substr(_row_hex, 2, 3), {sql_str('-')}, substr(_row_hex, 5))"
        )
    return df.selectExpr(
        "*",
        f"{E.when_clean(_ts(cfg))} AS processing_timestamp",
        f"{E.when_clean(batch_id)} AS _batch_id",
        f"{E.when_clean(sql_str(PIPELINE_VERSION))} AS _pipeline_version",
    ).drop("_row_hex")


# -------------------------------------------------------------- compose

def run_stages(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """validate -> enrich -> segment -> prepare on a parsed/typed frame."""
    return prepare_stage(segment_stage(enrich_stage(validate_stage(df, cfg)), cfg), cfg)


def run_on_lines(lines: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """Full pipeline from raw CSV lines; returns (good, errors)."""
    df = run_stages(parse_stage(lines, cfg), cfg)
    return E.split_errors(df, _ts(cfg))


@contextlib.contextmanager
def cli_lines(spark: SparkSession, path: str) -> Iterator[DataFrame]:
    """A bank CSV as raw lines without its header, scanned by every
    action in the ``with`` block in at most ``defaultParallelism``
    splits. The header is the line whose leading field is 'age;' or
    '"age";' (reference ``ReadFromText(skip_header_lines=1)`` :345 drops
    it by position): equivalent for this dataset, and any split can
    drop it.

    Spark splits text files at ``min(maxPartitionBytes,
    max(openCostInBytes, bytes / cores))``, so under the default 4 MB
    open cost a small CSV is one split, parsed on one core. In the
    block both settings are ``ceil(bytes / defaultParallelism)``: no
    few-byte remainder split, and each split a task of its own. Spark
    reads them when an action plans the scan, so the writes run in the
    block; the old settings return at its end. An input that fills
    ``defaultParallelism`` splits of ``maxPartitionBytes`` is left to
    Spark. Either way the scan splits the input and no exchange is
    added."""
    header = sql_str(r'^"?age"?;')
    lines = spark.read.text(path).withColumnRenamed("value", "line")
    lines = lines.filter(f"NOT (line RLIKE {header})")
    # the file index's exact byte count; no job
    size = int(lines._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    split = max(1, -(-size // spark.sparkContext.defaultParallelism))
    with contextlib.ExitStack() as scope:
        if split < spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes():
            for key in ("maxPartitionBytes", "openCostInBytes"):
                scope.enter_context(conf_override(spark, f"spark.sql.files.{key}", split))
        yield lines


def error_counts(metrics: dict) -> dict[str, int]:
    """Per-type error counts from the error write's Observation (one
    ``rows`` count plus one count per :data:`~operators.errors.ERROR_TYPES`
    entry). Raises ``UnlistedErrorType`` when they do not add up, so a
    new error type cannot drop silently out of the stats."""
    counts = {t: metrics[t] for t in E.ERROR_TYPES}
    if sum(counts.values()) != metrics["rows"]:
        raise E.UnlistedErrorType(
            f"{metrics['rows']} error rows but {counts} per listed type"
        )
    return counts


def stats_frame(spark: SparkSession, counts: dict[str, int]) -> DataFrame:
    """``error_type string, count bigint`` from the observed counts, as a
    JVM-local relation (SQL ``VALUES``: no Python round-trip, no scan).
    Zero-count types are left out, as ``groupBy(...).count()`` would,
    and no errors at all gives zero rows with the same two columns."""
    values = ", ".join(f"({sql_str(t)}, {int(n)}L)" for t, n in counts.items())
    return spark.sql(
        f"SELECT * FROM VALUES {values} AS stats(error_type, count) WHERE count > 0"
    )


def cli_sinks(
    lines: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame, Observation, Observation]:
    """The CLI's two sink frames, each observed by its write: rows on
    the good sink, rows and rows per error type on the error sink."""
    good, bad = run_on_lines(lines, cfg)
    # 29-field sink contract (reference PROCESSED_DATA_SCHEMA :48-78):
    # the raw line is not part of the good-row schema
    good_obs, bad_obs = Observation(), Observation()
    good = good.drop("_raw").observe(good_obs, F.expr("count(1) AS rows"))
    bad = bad.observe(
        bad_obs,
        F.expr("count(1) AS rows"),
        *[F.expr(f"count_if(error_type = {sql_str(t)}) AS {sql_name(t)}") for t in E.ERROR_TYPES],
    )
    return good, bad, good_obs, bad_obs


def main(argv: list[str] | None = None) -> None:
    """CLI matching the reference surface (batch_pipeline1.py:87-96):
    --input_path --output_table --error_table --stats_table
    --min_age --max_age. Tables are local parquet dirs here; the
    dormant BigQuery sink (:374) maps to a connector in cloud deploys.
    ``--stats_table``, unused in the reference, gets a real error-rate
    stats output, and ``--metrics_path`` a JSON run manifest.

    Two actions, one per sink, like the reference's one Beam pass with
    counted side outputs. Each is one narrow stage with no exchange:
    the writes run inside ``cli_lines``, whose scan splits even a small
    CSV once per core. The counts ride the writes as ``Observation``s:
    rows on the good write, rows and rows per error type on the error
    write. ``--stats_table`` is written from those counts, so there is
    no third scan and no shuffle for the stats. Persisting the tagged
    frame to share one parse between the two writes was measured
    slower than parsing twice.

    ``main`` runs in the active session when there is one and leaves
    its settings as it found them: the sinks' UTC timestamps come from
    a time zone scoped to the writes. Only without a session does it
    start one."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--input_path", required=True)
    ap.add_argument("--output_table", required=True)
    ap.add_argument("--error_table", required=True)
    ap.add_argument("--stats_table", default=None)
    ap.add_argument("--metrics_path", default=None)
    ap.add_argument("--min_age", type=int, default=DEFAULT_MIN_AGE)
    ap.add_argument("--max_age", type=int, default=DEFAULT_MAX_AGE)
    # the reference sink contract is JSON-lines text files
    # (batch_pipeline1.py:375-383 — though it actually writes Python
    # repr with a .json suffix; we emit REAL JSON); parquet available
    # for columnar consumers
    ap.add_argument("--output_format", choices=["json", "parquet"], default="json")
    args = ap.parse_args(argv)

    spark = SparkSession.getActiveSession() or get_spark("bank-etl")
    cfg = PipelineConfig(min_age=args.min_age, max_age=args.max_age)
    sink_s = {}
    utc = conf_override(spark, "spark.sql.session.timeZone", "UTC")
    with utc, cli_lines(spark, args.input_path) as lines:
        good, bad, good_obs, bad_obs = cli_sinks(lines, cfg)
        for name, df, path in (("good", good, args.output_table), ("bad", bad, args.error_table)):
            t0 = time.perf_counter()
            w = df.write.mode("overwrite")
            w.json(path) if args.output_format == "json" else w.parquet(path)
            sink_s[name] = time.perf_counter() - t0
    counts = error_counts(bad_obs.get)
    if args.stats_table:
        t0 = time.perf_counter()
        stats_frame(spark, counts).write.mode("overwrite").parquet(args.stats_table)
        sink_s["stats"] = time.perf_counter() - t0
    if args.metrics_path:
        n_good = good_obs.get["rows"]
        manifest = {
            "batch_id": cfg.run_id,
            "pipeline_version": PIPELINE_VERSION,
            "rows_read": n_good + sum(counts.values()),
            "rows_good": n_good,
            "rows_by_error_type": counts,
            "sink_s": sink_s,
        }
        with open(args.metrics_path, "w", encoding="utf-8") as f:
            json.dump(manifest, f, indent=2)


if __name__ == "__main__":
    main()
