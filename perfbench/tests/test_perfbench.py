"""Tests for the benchmark's own code. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from pathlib import Path

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digest(d: str) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(Path(d).iterdir())}


# ------------------------------------------------------------ generator

def test_tables_are_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    rows = gen.tables(a, 0.001, 7)
    assert gen.tables(b, 0.001, 7) == rows
    assert _digest(a) == _digest(b)
    gen.tables(c, 0.001, 8)
    assert _digest(a)["events.parquet"] != _digest(c)["events.parquet"]
    assert rows["lineitem"] == 6000 and len(rows) == 10


def test_bank_csv_is_a_function_of_the_seed_and_counts_add_up(tmp_path):
    p1, p2, p3 = (str(tmp_path / f"{x}.csv") for x in "abc")
    truth = gen.bank_csv(p1, 2000, 3)
    assert gen.bank_csv(p2, 2000, 3) == truth
    assert Path(p1).read_bytes() == Path(p2).read_bytes()
    gen.bank_csv(p3, 2000, 4)
    assert Path(p1).read_bytes() != Path(p3).read_bytes()
    lines = Path(p1).read_text(encoding="utf-8").splitlines()
    assert lines[0] == gen.BANK_HEADER and len(lines) == 2001
    # exact shares, whatever the seed: 2% wrong column count + 2% bad age,
    # 3% age out of range
    assert truth == {
        "lines": 2000,
        "good": 1860,
        "errors": {"parsing_error": 80, "data_validation": 60},
    }
    assert sum(1 for ln in lines[1:] if ln.count(";") != 16) == 40


# --------------------------------------------------------- metric names

def test_benchmark_json_names_are_valid_and_match_the_harness():
    spec = json.loads(Path(ROOT, "BENCHMARK.json").read_text(encoding="utf-8"))
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"] == "s"
    assert 1 <= spec["run_seconds"] <= 60


def test_result_line_carries_every_metric_of_its_mode():
    record = {
        "attempted": 4,
        "failed": 0,
        "success_ratio": 1.0,
        "peak_rss_mb": 10.0,
        **{k: run.quartiles([1.0, 2.0, 3.0]) for k in ("wall_s", "cpu_s", "rows_per_s", "setup_s")},
        "layers": {k: 0.0 for k in run.PER_LAYER},
    }
    assert set(run.result_line(record, False)["metrics"]) == set(run.END_TO_END)
    assert set(run.result_line(record, True)["metrics"]) == set(run.PER_LAYER)
    assert run.result_line(record, False)["metrics"]["wall_s"]["value"] == 2.0


def test_steal_free_wall_scales_by_the_share_of_cpu_the_threads_got():
    # the threads asked for 4 CPU-s and got 3: without steal, 3/4 of 2 s
    assert run.steal_free_wall({"wall_s": 2.0, "cpu_s": 3.0, "steal_s": 1.0}) == pytest.approx(1.5)
    assert run.steal_free_wall({"wall_s": 2.0, "cpu_s": 4.0, "steal_s": 0.0}) == 2.0


# ---------------------------------------------------------------- spans

def test_self_time_subtracts_children():
    tr = spans.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.with_self_time()
    assert inner["parent"] == outer["id"]
    assert outer["self"] == pytest.approx(outer["dur"] - inner["dur"])


# ------------------------------------------------------------ event log

def test_event_log_parser_on_a_tiny_run(tmp_path):
    """The traced run's plumbing end to end: event log switched on for a
    fresh SparkContext through JVM system properties, one sf0.001 query,
    and the parser's per-job records."""
    os.environ.setdefault("PYTHONPATH", ROOT)
    import __spark_entry__ as entry
    from banking_data_etl_pipeline_spark.session import get_spark

    sf = str(tmp_path / "sf")
    gen.tables(sf, 0.001, 1)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    spark = get_spark("perfbench-test", cpus=2)
    system = spark.sparkContext._jvm.java.lang.System
    try:
        run._enable_event_log(spark, log_dir)
        spark.stop()
        spark = get_spark("perfbench-test", cpus=2)
        entry.queries()["revenue_by_nation"](spark, sf).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        spark.stop()
        for k in ("enabled", "dir", "compress"):
            system.clearProperty(f"spark.eventLog.{k}")
    jobs = spans.parse_event_log(log_dir)
    assert jobs, os.listdir(log_dir)
    assert all(j["stages"] >= 1 for j in jobs)
    assert sum(j["tasks"] for j in jobs) >= len(jobs)
    assert sum(j["run_s"] for j in jobs) > 0
    assert sum(j["shuffle_write_bytes"] for j in jobs) > 0  # join + aggregate
    assert all(j["skew"] >= 1.0 for j in jobs)
    assert [j["submit"] for j in jobs] == sorted(j["submit"] for j in jobs)
