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

The CLI (``main``) adds two things around the stages and keeps them
shuffle-free: its input scan fans out small inputs (``session.fan_out``,
a round-robin exchange only below the split-size gate, so a small CSV
is parsed on every core), and the error statistics ride the error
write as an ``Observation`` instead of a third scan and a ``groupBy``.

Determinism: the reference stamps wall-clock timestamps and a uuid4
*per record* (:278-282 — yes, per record, despite the `_batch_id`
name). Both break oracle hashing, so ``PipelineConfig`` can inject a
fixed timestamp and derive batch ids as md5(row-key) instead.
"""

from __future__ import annotations

import argparse
import json
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import scoring
from ..operators import errors as E
from ..schema import (
    BANK_COLUMNS,
    FLOAT_FIELDS,
    INT_FIELDS,
    NUM_CSV_COLUMNS,
    PIPELINE_VERSION,
)

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


def _ts(cfg: PipelineConfig) -> Column:
    if cfg.fixed_timestamp is not None:
        return F.lit(cfg.fixed_timestamp)
    return F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssxxx")


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
    parsed = lines.select(
        F.col(line_col).alias("_raw"),
        F.explode(
            F.array(F.from_csv(F.col(line_col), wide_ddl, {"sep": ";", "quote": '"'}))
        ).alias("p"),
    )

    # The column-count condition must be materialized in the same select
    # that drops the struct `p` — referencing p.c16/p.c17 afterwards
    # would be an unresolved column.
    ncols_bad = F.col("p.c16").isNull() | F.col("p.c17").isNotNull()
    df = parsed.select(
        "_raw",
        ncols_bad.alias("_ncols_bad"),
        *[F.col(f"p.c{i}").alias(f"_s_{name}") for i, (name, _) in enumerate(BANK_COLUMNS)],
    )

    # Typed casts (try_cast so ANSI mode routes bad values to the error
    # channel instead of aborting); categoricals lower+trim (:123-138).
    typed_cols = []
    for name, dtype in BANK_COLUMNS:
        raw = F.trim(F.col(f"_s_{name}"))
        if name in INT_FIELDS or name in FLOAT_FIELDS:
            typed_cols.append(raw.try_cast(dtype).alias(name))
        else:
            typed_cols.append(F.lower(raw).alias(name))
    df = df.select("_raw", "_ncols_bad", *[F.col(f"_s_{n}") for n, _ in BANK_COLUMNS], *typed_cols)

    # Error channel in ONE expression, first-match-wins in the
    # reference's evaluation order: column count (:118-119), then the
    # numeric casts in column order (:121-138).
    pairs: list = [
        (
            F.col("_ncols_bad"),
            "ParseError",
            PARSING_ERROR,
            F.lit(f"expected {NUM_CSV_COLUMNS} columns"),
        )
    ]
    for name, _ in BANK_COLUMNS:
        if name in INT_FIELDS or name in FLOAT_FIELDS:
            raw = F.trim(F.col(f"_s_{name}"))
            pairs.append(
                (
                    F.col(name).isNull() & raw.isNotNull() & (raw != ""),
                    "ParseError",
                    PARSING_ERROR,
                    F.concat(F.lit(f"invalid value for '{name}': "), F.col(f"_s_{name}")),
                )
            )
    df = E.set_errors(df, pairs)

    df = df.withColumn("_ingestion_timestamp", E.when_clean(_ts(cfg)))
    return df.drop("_ncols_bad", *[f"_s_{name}" for name, _ in BANK_COLUMNS])


# ------------------------------------------------------------- validate

def validate_stage(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Required-field + age-range validation (reference :142-145,
    :167-172). The isinstance type-check (:167-168) is subsumed by the
    typed schema."""
    return E.set_errors(
        df,
        [
            (
                F.col("age").isNull() | F.col("job").isNull() | F.col("balance").isNull(),
                "ValidationError",
                DATA_VALIDATION,
                F.lit("missing required field (age/job/balance)"),
            ),
            (
                ~F.col("age").between(cfg.min_age, cfg.max_age),
                "ValidationError",
                DATA_VALIDATION,
                F.concat(
                    F.lit(f"age out of range [{cfg.min_age}, {cfg.max_age}]: "),
                    F.col("age").cast("string"),
                ),
            ),
        ],
    )


# --------------------------------------------------------------- enrich

def enrich_stage(df: DataFrame) -> DataFrame:
    """The five derived features (reference :176-203), null for rows
    already in the error channel."""
    return (
        df.withColumn("age_group", E.when_clean(scoring.age_group(F.col("age"))))
        .withColumn("wealth_segment", E.when_clean(scoring.wealth_segment(F.col("balance"))))
        .withColumn("contact_day_type", E.when_clean(scoring.contact_day_type(F.col("day"))))
        .withColumn(
            "has_loans", E.when_clean(scoring.has_loans(F.col("housing"), F.col("loan")))
        )
        .withColumn(
            "engagement_score",
            E.when_clean(
                scoring.engagement_score(
                    F.col("previous"), F.col("campaign"), F.col("duration"), F.col("y")
                )
            ),
        )
    )


# -------------------------------------------------------------- segment

def segment_stage(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """RFM scoring + JSON encode + tier (reference :222-253)."""
    r = scoring.recency_score(F.col("pdays"))
    f_ = scoring.frequency_score(F.col("previous"))
    m = scoring.monetary_score(F.col("balance"))
    return (
        df.withColumn("_r", E.when_clean(r))
        .withColumn("_f", E.when_clean(f_))
        .withColumn("_m", E.when_clean(m))
        .withColumn(
            "rfm_scores",
            E.when_clean(scoring.rfm_json(F.col("_r"), F.col("_f"), F.col("_m"))),
        )
        .withColumn(
            "customer_segment",
            E.when_clean(scoring.customer_segment(F.col("_r"), F.col("_f"), F.col("_m"))),
        )
        .withColumn("_processing_timestamp", E.when_clean(_ts(cfg)))
        .drop("_r", "_f", "_m")
    )


# -------------------------------------------------------------- prepare

def prepare_stage(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Lineage stamps (reference :276-291). The reference generates a
    fresh uuid4 PER RECORD (:280) despite the `_batch_id` name — we keep
    per-record ids, md5-derived in deterministic mode, uuid() otherwise.
    """
    if cfg.id_col is not None:
        batch_id = F.md5(F.col(cfg.id_col).cast("string"))
    else:
        batch_id = F.expr("uuid()")
    return (
        df.withColumn("processing_timestamp", E.when_clean(_ts(cfg)))
        .withColumn("_batch_id", E.when_clean(batch_id))
        .withColumn("_pipeline_version", E.when_clean(F.lit(PIPELINE_VERSION)))
    )


# -------------------------------------------------------------- compose

def run_stages(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """validate -> enrich -> segment -> prepare on a parsed/typed frame."""
    return prepare_stage(segment_stage(enrich_stage(validate_stage(df, cfg)), cfg), cfg)


def run_on_lines(lines: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """Full pipeline from raw CSV lines; returns (good, errors)."""
    df = run_stages(parse_stage(lines, cfg), cfg)
    ts = F.lit(cfg.fixed_timestamp) if cfg.fixed_timestamp else None
    return E.split_errors(df, raw_col="_raw", timestamp=ts)


def read_bank_lines(spark: SparkSession, path: str) -> DataFrame:
    """Read a bank CSV as raw lines, dropping the header (reference
    ``ReadFromText(skip_header_lines=1)`` :345 — identified by its
    leading 'age;'/'"age"' field rather than by position, which is
    equivalent for this dataset and split-parallel at scale)."""
    lines = spark.read.text(path).withColumnRenamed("value", "line")
    return lines.filter(~F.col("line").rlike(r'^"?age"?;'))


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
    values = ", ".join(f"('{t}', {n}L)" for t, n in counts.items())
    return spark.sql(
        f"SELECT * FROM VALUES {values} AS stats(error_type, count) WHERE count > 0"
    )


def main(argv: list[str] | None = None) -> None:
    """CLI matching the reference surface (batch_pipeline1.py:87-96):
    --input_path --output_table --error_table --stats_table
    --min_age --max_age. Tables are local parquet dirs here; the
    dormant BigQuery sink (:374) maps to a connector in cloud deploys.
    ``--stats_table``, unused in the reference, gets a real error-rate
    stats output, and ``--metrics_path`` a JSON run manifest.

    Two actions, one per sink, like the reference's one Beam pass with
    counted side outputs: the stages stay shuffle-free, but the input
    lines go through ``session.fan_out`` first, so a CSV too small for
    Spark to split is parsed on every core (an input above the gate
    gets no exchange). The counts ride the writes as ``Observation``s:
    rows on the good write, rows and rows per error type on the error
    write. ``--stats_table`` is written from those counts, so there is
    no third scan and no shuffle for the stats. Persisting the tagged
    frame to share one parse between the two writes was measured
    slower than parsing twice."""
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

    from ..session import fan_out, get_spark

    spark = get_spark("bank-etl")
    cfg = PipelineConfig(min_age=args.min_age, max_age=args.max_age)
    good, bad = run_on_lines(fan_out(read_bank_lines(spark, args.input_path)), cfg)
    # 29-field sink contract (reference PROCESSED_DATA_SCHEMA :48-78):
    # the raw line is not part of the good-row schema
    good_obs, bad_obs = Observation(), Observation()
    good = good.drop("_raw").observe(good_obs, F.count(F.lit(1)).alias("rows"))
    bad = bad.observe(
        bad_obs,
        F.count(F.lit(1)).alias("rows"),
        *[F.count_if(F.col("error_type") == t).alias(t) for t in E.ERROR_TYPES],
    )
    sink_s = {}
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
            "batch_id": str(uuid.uuid4()),
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
