"""End-to-end CLI test: drive ``plans.pipeline.main()`` on a fixture
CSV and validate both JSON-lines sinks against their field contracts
(29-field good rows mirroring the reference's PROCESSED_DATA_SCHEMA,
4-field error rows) plus the --stats_table output and the
--metrics_path run manifest."""

from __future__ import annotations

import json
import glob
import os
import re
import tempfile

import pytest

from banking_data_etl_pipeline_spark.operators import errors as E
from banking_data_etl_pipeline_spark.plans import pipeline as P
from banking_data_etl_pipeline_spark.session import conf_override

HEADER = (
    "age;job;marital;education;default;balance;housing;loan;contact;day;"
    "month;duration;campaign;pdays;previous;poutcome;y"
)
ROWS = [
    # clean row
    "30;services;married;secondary;no;1500;yes;no;cellular;5;may;120;2;10;3;success;yes",
    # RFM infinity-quirk row (balance>=50k, pdays>=180, previous>=10)
    "45;admin.;single;tertiary;no;60000;no;yes;telephone;12;jun;300;1;200;11;failure;no",
    # age out of range low / high -> data_validation
    "17;student;single;primary;no;100;no;no;cellular;3;jul;60;1;-1;0;unknown;no",
    "101;retired;married;secondary;no;900;no;no;cellular;8;aug;90;1;-1;0;unknown;no",
    # non-numeric age -> parsing_error
    "abc;services;married;secondary;no;100;no;no;cellular;2;may;50;1;-1;0;unknown;no",
    # wrong column count -> parsing_error
    "bad;short;row",
]

GOOD_FIELDS = 29
ERROR_FIELDS = {"raw_data", "error_type", "error_message", "timestamp"}
GOOD_STAMPS = ("_ingestion_timestamp", "_processing_timestamp", "processing_timestamp")
ISO_SECONDS = re.compile(r"^\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d[+-]\d\d:\d\d$")
UUID4 = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$")


def _read_jsonl(path: str) -> list[dict]:
    return [
        json.loads(line)
        for f in sorted(glob.glob(os.path.join(path, "part-*")))
        for line in open(f)
        if line.strip()
    ]


def test_cli_json_sinks(spark):
    d = tempfile.mkdtemp(prefix="cli_e2e_")
    csv = os.path.join(d, "bank.csv")
    with open(csv, "w") as f:
        f.write(HEADER + "\n" + "\n".join(ROWS) + "\n")

    good_dir, bad_dir, stats_dir = (
        os.path.join(d, n) for n in ("good", "bad", "stats")
    )
    manifest_path = os.path.join(d, "manifest.json")
    P.main(
        [
            "--input_path", csv,
            "--output_table", good_dir,
            "--error_table", bad_dir,
            "--stats_table", stats_dir,
            "--metrics_path", manifest_path,
        ]
    )

    good = _read_jsonl(good_dir)
    bad = _read_jsonl(bad_dir)

    # 2 valid rows survive; each carries the full 29-field contract
    assert len(good) == 2
    for row in good:
        assert len(row) == GOOD_FIELDS, sorted(row)
        assert "_raw" not in row
    by_age = {r["age"]: r for r in good}
    assert by_age[30]["age_group"] == "middle_aged"
    # the reference's RFM infinity quirk: all three scores collapse to 1
    quirk = json.loads(by_age[45]["rfm_scores"])
    assert (quirk["recency"], quirk["frequency"], quirk["monetary"]) == (1, 1, 1)

    # 4 rejected rows, 4-field error contract, right error channels
    assert len(bad) == 4
    assert all(set(r) == ERROR_FIELDS for r in bad)
    types = sorted(r["error_type"] for r in bad)
    assert types == ["data_validation", "data_validation", "parsing_error", "parsing_error"]
    # raw line is preserved verbatim for replay
    assert any(r["raw_data"] == "bad;short;row" for r in bad)
    # one timestamp format per run, on both sinks
    stamps = [r["timestamp"] for r in bad] + [r[c] for r in good for c in GOOD_STAMPS]
    assert all(ISO_SECONDS.match(t) for t in stamps), stamps

    # stats sink: per-error-type counts as parquet
    stats = {
        r.error_type: r["count"]
        for r in spark.read.parquet(stats_dir).collect()
    }
    assert stats == {"data_validation": 2, "parsing_error": 2}

    # run manifest: the counts the writes observed, one run-level batch id
    with open(manifest_path) as f:
        manifest = json.load(f)
    assert manifest["rows_read"] == 6
    assert manifest["rows_good"] == 2
    assert manifest["rows_by_error_type"] == {"data_validation": 2, "parsing_error": 2}
    assert set(manifest["sink_s"]) == {"good", "bad", "stats"}
    assert all(t >= 0 for t in manifest["sink_s"].values())
    assert manifest["pipeline_version"] == P.PIPELINE_VERSION
    assert len(manifest["batch_id"]) == 36


def test_cli_batch_ids_are_uuid4_shaped_and_unique_per_row_and_run(spark, tmp_path):
    """Each good row's ``_batch_id`` is a lowercase uuid4 string made of
    the run's manifest ``batch_id`` (its first 17 characters and its
    variant) and the row's id: distinct within a run, disjoint between
    runs."""
    csv = os.path.join(tmp_path, "bank.csv")
    with open(csv, "w") as f:
        f.write(HEADER + "\n" + "\n".join(ROWS + ROWS[:1] * 200) + "\n")
    runs = []
    for run in ("a", "b"):
        out = os.path.join(tmp_path, run)
        manifest_path = os.path.join(out, "manifest.json")
        P.main(
            [
                "--input_path", csv,
                "--output_table", os.path.join(out, "good"),
                "--error_table", os.path.join(out, "bad"),
                "--metrics_path", manifest_path,
            ]
        )
        with open(manifest_path) as f:
            run_id = json.load(f)["batch_id"]
        ids = [r["_batch_id"] for r in _read_jsonl(os.path.join(out, "good"))]
        assert len(ids) == 202
        assert UUID4.match(run_id), run_id
        assert all(UUID4.match(i) for i in ids), ids
        assert len(set(ids)) == len(ids)
        assert all(i[:17] == run_id[:17] and i[19] == run_id[19] for i in ids), (run_id, ids)
        runs.append(set(ids))
    assert not runs[0] & runs[1]


def test_cli_age_range_override_shifts_validation_and_stats(spark):
    """--min_age/--max_age are live CLI knobs (SURVEY §2 row 8): with
    --min_age 17 --max_age 101 both boundary rows become good, the
    validation channel empties, and the stats table reflects only the
    parse failures — hand-computed from the same fixture."""
    d = tempfile.mkdtemp(prefix="cli_e2e_age_")
    csv = os.path.join(d, "bank.csv")
    with open(csv, "w") as f:
        f.write(HEADER + "\n" + "\n".join(ROWS) + "\n")

    good_dir, bad_dir, stats_dir = (
        os.path.join(d, n) for n in ("good", "bad", "stats")
    )
    P.main(
        [
            "--input_path", csv,
            "--output_table", good_dir,
            "--error_table", bad_dir,
            "--stats_table", stats_dir,
            "--min_age", "17",
            "--max_age", "101",
        ]
    )
    good = _read_jsonl(good_dir)
    bad = _read_jsonl(bad_dir)
    assert sorted(r["age"] for r in good) == [17, 30, 45, 101]
    assert {r["age_group"] for r in good if r["age"] in (17,)} == {"young"}
    assert sorted(r["error_type"] for r in bad) == ["parsing_error", "parsing_error"]
    stats = {
        r.error_type: r["count"]
        for r in spark.read.parquet(stats_dir).collect()
    }
    assert stats == {"parsing_error": 2}


def test_cli_parquet_output_format(spark):
    """--output_format parquet writes both sinks as parquet with the
    same 29-field contract and row routing as the JSON path."""
    d = tempfile.mkdtemp(prefix="cli_e2e_pq_")
    csv = os.path.join(d, "bank.csv")
    with open(csv, "w") as f:
        f.write(HEADER + "\n" + "\n".join(ROWS) + "\n")

    good_dir, bad_dir = (os.path.join(d, n) for n in ("good", "bad"))
    P.main(
        [
            "--input_path", csv,
            "--output_table", good_dir,
            "--error_table", bad_dir,
            "--output_format", "parquet",
        ]
    )
    good = spark.read.parquet(good_dir)
    bad = spark.read.parquet(bad_dir)
    assert good.count() == 2
    assert len(good.columns) == GOOD_FIELDS
    assert "_raw" not in good.columns
    assert set(bad.columns) == ERROR_FIELDS
    assert sorted(r.error_type for r in bad.collect()) == [
        "data_validation", "data_validation", "parsing_error", "parsing_error",
    ]


@pytest.mark.parametrize(
    "rows", [None, [], ROWS[:2]], ids=["zero_byte", "header_only", "all_clean"]
)
def test_cli_degenerate_inputs_give_empty_error_sinks(spark, rows):
    """A zero-byte file, a header-only CSV and an all-clean CSV: the
    error sink is empty and the stats table has zero rows (not rows
    with count 0) but keeps its two columns, as
    ``groupBy("error_type").count()`` gave; the manifest counts no
    errors."""
    d = tempfile.mkdtemp(prefix="cli_e2e_degenerate_")
    csv = os.path.join(d, "bank.csv")
    with open(csv, "w") as f:
        f.write("" if rows is None else HEADER + "\n" + "".join(r + "\n" for r in rows))
    rows = rows or []

    good_dir, bad_dir, stats_dir = (
        os.path.join(d, n) for n in ("good", "bad", "stats")
    )
    manifest_path = os.path.join(d, "manifest.json")
    P.main(
        [
            "--input_path", csv,
            "--output_table", good_dir,
            "--error_table", bad_dir,
            "--stats_table", stats_dir,
            "--metrics_path", manifest_path,
        ]
    )
    assert len(_read_jsonl(good_dir)) == len(rows)
    assert _read_jsonl(bad_dir) == []
    stats = spark.read.parquet(stats_dir)
    assert stats.schema.simpleString() == "struct<error_type:string,count:bigint>"
    assert stats.count() == 0
    with open(manifest_path) as f:
        manifest = json.load(f)
    assert manifest["rows_read"] == manifest["rows_good"] == len(rows)
    assert manifest["rows_by_error_type"] == {t: 0 for t in E.ERROR_TYPES}


def test_cli_restores_the_file_split_settings(spark, tmp_path):
    """``main`` sizes the scan's splits for its own writes only: after it
    returns, every ``spark.sql.files.*`` setting of the session is as
    it was, a set one keeps its value and an unset one stays unset."""
    csv = os.path.join(tmp_path, "bank.csv")
    with open(csv, "w") as f:
        f.write(HEADER + "\n" + "\n".join(ROWS) + "\n")

    def files_conf() -> dict:
        return {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.files.")}

    with conf_override(spark, "spark.sql.files.maxPartitionBytes", "64m"):
        before = files_conf()
        P.main(
            [
                "--input_path", csv,
                "--output_table", os.path.join(tmp_path, "good"),
                "--error_table", os.path.join(tmp_path, "bad"),
            ]
        )
        assert files_conf() == before
    assert before["spark.sql.files.maxPartitionBytes"] == "64m"
    assert "spark.sql.files.openCostInBytes" not in before


def test_cli_leaves_the_session_settings_alone(spark, tmp_path):
    """``main`` runs in the caller's session without rewriting it: its
    shuffle partitions, time zone and app name read the same after the
    run, and the sinks' timestamps are still UTC under a session zone
    that is not."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone", "spark.app.name")
    with conf_override(spark, "spark.sql.session.timeZone", "America/New_York"):
        before = {k: spark.conf.get(k) for k in keys}
        for name, rows in (("header_only", []), ("clean", ROWS[:1])):
            csv = os.path.join(tmp_path, f"{name}.csv")
            with open(csv, "w") as f:
                f.write(HEADER + "\n" + "".join(r + "\n" for r in rows))
            good_dir = os.path.join(tmp_path, name, "good")
            P.main(
                [
                    "--input_path", csv,
                    "--output_table", good_dir,
                    "--error_table", os.path.join(tmp_path, name, "bad"),
                    "--stats_table", os.path.join(tmp_path, name, "stats"),
                ]
            )
            assert {k: spark.conf.get(k) for k in keys} == before, name
        good = _read_jsonl(good_dir)
    assert before["spark.sql.session.timeZone"] == "America/New_York"
    assert len(good) == 1
    assert all(good[0][c].endswith("+00:00") for c in GOOD_STAMPS), good[0]


def test_stage_error_types_are_the_listed_enum(spark):
    """Every ``error_type`` the stages emit is in ``ERROR_TYPES`` (the
    fixture hits each one), so the CLI's per-type counts cover them all."""
    lines = spark.createDataFrame([(r,) for r in ROWS], "line string")
    _good, bad = P.run_on_lines(lines, P.PipelineConfig())
    emitted = {r.error_type for r in bad.select("error_type").distinct().collect()}
    assert emitted == set(E.ERROR_TYPES)


def test_error_counts_refuse_an_unlisted_type():
    """Per-type counts that do not add up to the error rows mean a type
    outside the enum: a typed error, not stats that silently miss it."""
    listed = {"rows": 4, "parsing_error": 2, "data_validation": 2}
    assert P.error_counts(listed) == {"parsing_error": 2, "data_validation": 2}
    with pytest.raises(E.UnlistedErrorType):
        P.error_counts({**listed, "rows": 5})
