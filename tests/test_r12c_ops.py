"""Round-12 statistics tests: exact-integer two-sample tests (KS,
Mann-Whitney) and Kendall tau-b (the BFS depth tests live in
test_graph.py)."""

from __future__ import annotations

import pytest

from banking_data_etl_pipeline_spark.operators import profiling, timeseries
from banking_data_etl_pipeline_spark.sources import tables

from conftest import SF_DIR


def _events(spark, rows):
    """(event_type, value) rows with a fixed ts (unused by the tests)."""
    return spark.createDataFrame(
        [(t, float(v)) for t, v in rows], "event_type string, value double"
    )


def test_ks_two_sample_hand_computed_with_ties(spark):
    """a = {1,2,2,5}, b = {2,3,3}: EDFs jump at pooled {1,2,3,5};
    |F_a - F_b| there = |1/4-0|, |3/4-1/3|, |3/4-1|, |1-1| →
    D = 5/12 (at v=2: 3·3 - 1·4 = 5 over n_a·n_b = 12)."""
    ev = _events(
        spark,
        [("purchase", 1), ("purchase", 2), ("purchase", 2), ("purchase", 5),
         ("click", 2), ("click", 3), ("click", 3)],
    )
    row = profiling.ks_two_sample(ev).collect()[0]
    assert (row["n_a"], row["n_b"]) == (4, 3)
    assert row["d_num"] == 5
    assert row["ks_d"] == pytest.approx(5 / 12)


@pytest.mark.slowtier
def test_mann_whitney_hand_computed_and_symmetry(spark):
    """a = {1,3}, b = {2,3}: U_a = #(a>b) + ties/2 = 1 + 0.5 = 1.5 →
    2U = 3; and U_a + U_b = n_a·n_b exactly (so 2U_a + 2U_b = 2·n_a·n_b)."""
    ev = _events(
        spark,
        [("purchase", 1), ("purchase", 3), ("click", 2), ("click", 3)],
    )
    row = profiling.mann_whitney(ev).collect()[0]
    assert (row["n_a"], row["n_b"], row["u2x"]) == (2, 2, 3)
    assert row["rank_biserial"] == pytest.approx(3 / 4 - 1)
    flipped = profiling.mann_whitney(
        ev, type_a="click", type_b="purchase"
    ).collect()[0]
    assert row["u2x"] + flipped["u2x"] == 2 * row["n_a"] * row["n_b"]


def test_ks_identical_samples_give_zero_d(spark):
    ev = _events(
        spark,
        [("purchase", 1), ("purchase", 2), ("click", 1), ("click", 2)],
    )
    row = profiling.ks_two_sample(ev).collect()[0]
    assert row["d_num"] == 0 and row["ks_d"] == 0.0


def test_two_sample_spine_plan_is_partitioned_prefix_sum(spark):
    """The EDF spine must never plan an Exchange SinglePartition over
    the distinct-value rows (the heaps_law remedy applied here)."""
    ev = tables.load(spark, SF_DIR, "events")
    spine = profiling._two_sample_spine(ev, "purchase", "click")
    plan = spine._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan


def _ts_events(spark, rows):
    """(day_index, event_type) rows → events with ts inside that day."""
    return spark.createDataFrame(
        [(f"2024-01-{d + 1:02d} 12:00:00", t) for d, t in rows],
        "ts_s string, event_type string",
    ).selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "event_type")


def test_kendall_tau_perfect_agreement_and_ties(spark):
    """Daily (x, y) counts (1,1), (2,2), (3,3) → all 3 pairs
    concordant, tau_b = 1; adding a tied-x day breaks margin ties_x."""
    rows = []
    for d in range(3):
        rows += [(d, "purchase")] * (d + 1) + [(d, "click")] * (d + 1)
    row = timeseries.kendall_tau(_ts_events(spark, rows)).collect()[0]
    assert (row["n_days"], row["concordant"], row["discordant"]) == (3, 3, 0)
    assert (row["ties_x"], row["ties_y"]) == (0, 0)
    assert row["tau_b"] == pytest.approx(1.0)


def test_kendall_tau_discordant_series(spark):
    """x rises 1,2,3 while y falls 3,2,1 → tau_b = -1."""
    rows = []
    for d in range(3):
        rows += [(d, "purchase")] * (d + 1) + [(d, "click")] * (3 - d)
    row = timeseries.kendall_tau(_ts_events(spark, rows)).collect()[0]
    assert row["discordant"] == 3 and row["concordant"] == 0
    assert row["tau_b"] == pytest.approx(-1.0)


def test_cvm_two_sample_hand_computed(spark):
    """a = {1,2}, b = {1,3}: EDFs differ only on [2,3) where
    |F_a−F_b| = 1/2 with pooled weight 1 → t_num = 1·(2·2−1·2)² = 4,
    T = 4/(4²·4) = 0.0625."""
    ev = _events(
        spark,
        [("purchase", 1), ("purchase", 2), ("click", 1), ("click", 3)],
    )
    row = profiling.cvm_two_sample(ev).collect()[0]
    assert (row["n_a"], row["n_b"]) == (2, 2)
    assert row["t_num"] == 4.0
    assert row["cvm_t"] == pytest.approx(0.0625)


def test_cvm_identical_samples_zero(spark):
    ev = _events(
        spark,
        [("purchase", 5), ("purchase", 7), ("click", 5), ("click", 7)],
    )
    row = profiling.cvm_two_sample(ev).collect()[0]
    assert row["t_num"] == 0.0 and row["cvm_t"] == 0.0
