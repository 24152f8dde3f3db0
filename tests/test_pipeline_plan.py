"""The ETL plan (``plans/pipeline.py``): its stages are Spark SQL text,
so building it costs few py4j round trips, and the text carries only
constants, config and names, so no field value or config string can
change what the text means."""

from __future__ import annotations

import os

import py4j.clientserver

from banking_data_etl_pipeline_spark.plans import pipeline as P
from banking_data_etl_pipeline_spark.session import conf_override, fan_out

HEADER = (
    "age;job;marital;education;default;balance;housing;loan;contact;day;"
    "month;duration;campaign;pdays;previous;poutcome;y"
)
CLEAN = "30;admin.;single;primary;no;100;no;no;cellular;5;may;100;2;10;1;success;no"
ODD_AGE = "4'2\\"  # a quote and a trailing backslash


def _line(age: str) -> str:
    return ";".join([age, *CLEAN.split(";")[1:]])


def test_etl_plan_build_round_trip_budget(spark, tmp_path, monkeypatch):
    """Building the CLI's plan sends fewer than 1,000 py4j commands
    (built from Column calls, at ~10 commands each, it sends ~6,000)."""
    csv = os.path.join(tmp_path, "bank.csv")
    with open(csv, "w") as f:
        f.write(HEADER + "\n" + CLEAN + "\n" + _line("abc") + "\n")

    conn = py4j.clientserver.ClientServerConnection
    send = conn.send_command
    sent = []

    def counting(self, command, *args, **kwargs):
        sent.append(1)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(conn, "send_command", counting)
    good, bad = P.run_on_lines(fan_out(P.read_bank_lines(spark, csv)), P.PipelineConfig())
    monkeypatch.setattr(conn, "send_command", send)
    assert len(sent) < 1000, len(sent)
    assert good.count() == 1 and bad.count() == 1


def test_data_and_config_values_stay_verbatim(spark):
    """A field value and config strings holding quotes, backslashes and
    a ``${...}`` variable come back verbatim, the configured age range
    reaches the range message, and double-quoted identifiers do not
    change the result."""
    stamp = "2026-01-01T00:00:00Z 'q' \\ \" ${spark.app.name}"
    cfg = P.PipelineConfig(min_age=21, max_age=65, fixed_timestamp=stamp, id_col="_raw")
    df = spark.createDataFrame(
        [(ln,) for ln in (CLEAN, _line(ODD_AGE), _line("70"), _line("20"))], "line string"
    )
    with conf_override(spark, "spark.sql.ansi.doubleQuotedIdentifiers", "true"):
        good, bad = P.run_on_lines(df, cfg)
        good, bad = good.collect(), bad.collect()

    assert len(good) == 1
    assert good[0].age == 30
    assert good[0]._ingestion_timestamp == stamp
    assert good[0]._processing_timestamp == stamp
    assert good[0].processing_timestamp == stamp
    assert sorted((r.error_type, r.error_message) for r in bad) == [
        ("data_validation", "ValidationError: age out of range [21, 65]: 20"),
        ("data_validation", "ValidationError: age out of range [21, 65]: 70"),
        ("parsing_error", f"ParseError: invalid value for 'age': {ODD_AGE}"),
    ]
    assert {r.timestamp for r in bad} == {stamp}
