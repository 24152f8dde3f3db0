"""The ETL plan (``plans/pipeline.py``): its stages are Spark SQL text,
so building it costs few py4j round trips, and the text carries only
constants, config and names, so no field value or config string can
change what the text means. Its generated code is the same in every
run, and each fused method is small enough for HotSpot to compile."""

from __future__ import annotations

import gc
import os

import py4j.clientserver
import pytest

from banking_data_etl_pipeline_spark.plans import pipeline as P
from banking_data_etl_pipeline_spark.session import conf_override

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

    # collect the proxies earlier tests left in reference cycles now:
    # py4j deletes each one with a command the count would see
    gc.collect()
    monkeypatch.setattr(conn, "send_command", counting)
    with P.cli_lines(spark, csv) as lines:
        good, bad = P.run_on_lines(lines, P.PipelineConfig())
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


def _csv(tmp_path) -> str:
    csv = os.path.join(tmp_path, "bank.csv")
    with open(csv, "w") as f:
        f.write("\n".join([HEADER, CLEAN, _line("abc"), _line("17"), "bad;short;row"]) + "\n")
    return csv


# HotSpot compiles no method whose bytecode is longer than this
# (-XX:HugeMethodLimit); a longer one runs in the interpreter
JIT_LIMIT = 8000
CONFIGS = {
    "cli": P.PipelineConfig,
    "deterministic": lambda: P.PipelineConfig(fixed_timestamp="2026-01-01T00:00:00Z", id_col="_raw"),
}


def _sinks(spark, csv, cfg):
    """The CLI's good and error sink frames."""
    with P.cli_lines(spark, csv) as lines:
        good, bad, _good_obs, _bad_obs = P.cli_sinks(lines, cfg)
    return good, bad


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _codegen(df) -> list[tuple[str, int]]:
    """(generated source, largest method's bytecode size) per
    whole-stage-codegen subtree; call it with AQE off, or the plan is
    not final."""
    stages = _seq(df._jdf.queryExecution().debug().codegenToSeq())
    return [(t._2(), t._3().maxMethodCodeSize()) for t in stages]


def _error_chains(df, stage: str) -> int:
    """How often ``stage``'s error chain (the CASE whose first branch
    builds a ``stage`` error) occurs in the optimized plan, counted over
    the expression trees: the plan's string truncates the wide
    ``named_struct``s, so a count over it reads 0."""
    n, nodes, mark = 0, [df._jdf.queryExecution().optimizedPlan()], f"'stage', '{stage}'"
    while nodes:
        node = nodes.pop()
        nodes += _seq(node.children())
        exprs = _seq(node.expressions())
        while exprs:
            e = exprs.pop()
            if e.getClass().getSimpleName() == "CaseWhen":
                n += mark in e.branches().apply(0)._2().sql()
            exprs += _seq(e.children())
    # free the walk's JVM proxies now: py4j deletes each one with a
    # command of its own, which a later round-trip count would see
    gc.collect()
    return n


def test_cli_plan_generates_the_same_code_in_every_run(spark, tmp_path):
    """Two runs of the CLI generate byte-identical code for both sinks,
    so a session compiles and JIT-compiles it once (a ``uuid()`` batch
    id compiled each run's random seed into the source)."""
    csv = _csv(tmp_path)
    with conf_override(spark, "spark.sql.adaptive.enabled", "false"):
        runs = [_sinks(spark, csv, P.PipelineConfig()) for _ in range(2)]
        for first, second in zip(*runs):
            assert [src for src, _ in _codegen(first)] == [src for src, _ in _codegen(second)]


@pytest.mark.parametrize("config", sorted(CONFIGS))
def test_fused_methods_fit_the_jit_limit(spark, tmp_path, config):
    """Every generated method of both sinks fits HotSpot's compile
    limit, so no ETL row runs in the bytecode interpreter."""
    with conf_override(spark, "spark.sql.adaptive.enabled", "false"):
        for df in _sinks(spark, _csv(tmp_path), CONFIGS[config]()):
            sizes = [size for _, size in _codegen(df)]
            assert max(sizes) <= JIT_LIMIT, sizes


@pytest.mark.parametrize("config", sorted(CONFIGS))
def test_each_error_chain_is_evaluated_once_per_sink(spark, tmp_path, config):
    """The terminal filters stop at ``validate_stage``'s generator
    barrier, so neither sink inlines a stage's error chain twice."""
    for df in _sinks(spark, _csv(tmp_path), CONFIGS[config]()):
        assert [_error_chains(df, s) for s in ("ParseError", "ValidationError")] == [1, 1]


def test_cli_sinks_are_one_narrow_stage_over_a_split_scan(spark, tmp_path):
    """Inside ``cli_lines`` a small CSV scans in more than one and at
    most ``defaultParallelism`` splits, and neither sink's executed
    plan holds an exchange or an adaptive plan: each write is one
    narrow stage."""
    csv = os.path.join(tmp_path, "bank.csv")
    with open(csv, "w") as f:
        f.write("\n".join([HEADER, *[CLEAN] * 200, _line("abc"), _line("17")]) + "\n")
    cores = spark.sparkContext.defaultParallelism
    with P.cli_lines(spark, csv) as lines:
        for df in P.cli_sinks(lines, P.PipelineConfig())[:2]:
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan and "AdaptiveSparkPlan" not in plan, plan
            assert 1 < df.rdd.getNumPartitions() <= cores
