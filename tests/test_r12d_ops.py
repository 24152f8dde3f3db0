"""Round-12 batch-2 operator tests: Dunning LLR collocations, Holt
linear smoothing, stratified treatment effect."""

from __future__ import annotations

import math

import pytest

from banking_data_etl_pipeline_spark.operators import (
    corpus,
    experiments,
    timeseries,
)


def test_bigram_llr_hand_computed(spark):
    """Corpus {"a b a b", "a b"}: N = 4 bigram events, c(a b) = 3,
    pre(a) = suf(b) = 3 → G² = 2·(4ln4 − 3ln3)."""
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id long, text string"
    )
    rows = {r["bigram"]: r for r in corpus.bigram_llr(docs, min_count=1).collect()}
    want = round(2.0 * (4 * math.log(4) - 3 * math.log(3)), 6)
    assert rows["a b"]["cnt"] == 3
    assert rows["a b"]["pre_x"] == 3 and rows["a b"]["suf_y"] == 3
    assert rows["a b"]["llr"] == pytest.approx(want)
    # the reverse bigram exists too (degenerate two-token corpus: its
    # table is the transpose, so its G² coincides — both present)
    assert "b a" in rows


def test_bigram_llr_nonnegative_and_k22_valid(spark, sf_docs=None):
    """G² is a likelihood RATIO statistic — never negative; the
    prefix/suffix margins keep every contingency cell >= 0 (the
    unigram-margin shortcut can push k22 below zero)."""
    docs = spark.createDataFrame(
        [(i, f"w{i % 3} common w{i % 5} common tail") for i in range(40)],
        "doc_id long, text string",
    )
    out = corpus.bigram_llr(docs, min_count=2).collect()
    assert out and all(r["llr"] >= 0.0 for r in out)


def _ts_events(spark, rows):
    return spark.createDataFrame(
        [(f"2024-01-{d + 1:02d} 12:00:00", t) for d, t in rows],
        "ts_s string, event_type string",
    ).selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "event_type")


def test_holt_linear_hand_computed(spark):
    """Daily counts 1,2,3: l₂=2, b₂=1; x₃=3 → l=3, b=1, so the pure
    linear trend is tracked exactly and forecast = 3 + 7·1 = 10."""
    rows = []
    for d in range(3):
        rows += [(d, "view")] * (d + 1)
    row = timeseries.holt_linear(_ts_events(spark, rows)).collect()[0]
    assert row["n_days"] == 3
    assert row["level"] == pytest.approx(3.0)
    assert row["trend"] == pytest.approx(1.0)
    assert row["forecast"] == pytest.approx(10.0)


def test_holt_linear_drops_single_day_types(spark):
    rows = [(0, "view"), (1, "view"), (0, "click")]
    out = timeseries.holt_linear(_ts_events(spark, rows)).collect()
    assert {r["event_type"] for r in out} == {"view"}
    # two days: level = x2, trend = x2 - x1, nothing to fold
    assert out[0]["level"] == pytest.approx(1.0)
    assert out[0]["trend"] == pytest.approx(0.0)


def test_strat_ate_exact_rates(spark):
    """One young/mass_market stratum: treated = {yes, no}, control =
    {no, no} → rate_t = 0.5, rate_c = 0, diff = 0.5; a stratum with no
    control arm is dropped."""
    rows = [
        # age, balance, housing, loan, y
        (25, 100.0, "yes", "no", "yes"),
        (26, 100.0, "yes", "no", "no"),
        (27, 100.0, "no", "no", "no"),
        (28, 100.0, "no", "no", "no"),
        # senior/high_net_worth: treated only -> dropped
        (70, 60000.0, "yes", "yes", "yes"),
    ]
    valid = spark.createDataFrame(
        rows, "age int, balance double, housing string, loan string, y string"
    )
    out = experiments.strat_ate(valid).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["age_group"], r["wealth_segment"]) == ("young", "mass_market")
    assert (r["n_s"], r["n_treated"], r["n_control"]) == (4, 2, 2)
    assert r["rate_treated"] == pytest.approx(0.5)
    assert r["rate_control"] == pytest.approx(0.0)
    assert r["diff"] == pytest.approx(0.5)
