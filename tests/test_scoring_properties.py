"""Property tests for the pure scoring semantics (SURVEY §5 item 3).

Hypothesis generates the inputs; each property is evaluated in ONE
Spark pass over all generated rows (a DataFrame per example would be
seconds per case). The reference semantics under test:
- engagement_score ∈ [0, 1] for any non-negative inputs;
- _calculate_score is monotone non-decreasing in value EXCEPT the
  ∞→1 tail (the reference quirk);
- customer_segment tier ordering follows the rfm average.
"""

from __future__ import annotations

import json

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.functions import scoring


def _eval(spark, rows, schema, cols):
    df = spark.createDataFrame(rows, schema)
    return df.select(*cols).collect()


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 1000),  # previous
            st.integers(0, 1000),  # campaign
            st.integers(0, 100000),  # duration
            st.sampled_from(["yes", "no", "maybe"]),
        ),
        min_size=1,
        max_size=200,
    )
)
def test_engagement_bounded(spark, rows):
    out = _eval(
        spark,
        [(i, *r) for i, r in enumerate(rows)],
        "id long, previous long, campaign long, duration long, y string",
        [
            F.expr(
                scoring.engagement_score("previous", "campaign", "duration", "y")
            ).alias("e")
        ],
    )
    assert all(0.0 <= r.e <= 1.0 for r in out)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(-5, 500), min_size=2, max_size=200))
def test_recency_monotone_except_tail(spark, pdays):
    out = _eval(
        spark,
        [(i, v) for i, v in enumerate(pdays)],
        "id long, pdays long",
        [F.col("pdays"), F.expr(scoring.recency_score("pdays")).alias("s")],
    )
    for r in out:
        if r.pdays <= -1:
            assert r.s == 1
        elif r.pdays > 180:
            assert r.s == 1  # the inf->1 quirk tail
        else:
            assert 2 <= r.s <= 5
    # monotone DECREASING inside the finite range (smaller pdays =
    # more recent = higher score)
    inside = sorted((r.pdays, r.s) for r in out if 0 <= r.pdays <= 180)
    for (_, s1), (_, s2) in zip(inside, inside[1:]):
        assert s1 >= s2


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-5, 500), st.integers(0, 50),
                  st.floats(-10000, 100000, allow_nan=False)),
        min_size=1, max_size=200,
    )
)
def test_segment_follows_rfm_average(spark, rows):
    out = _eval(
        spark,
        [(i, p, pr, b) for i, (p, pr, b) in enumerate(rows)],
        "id long, pdays long, previous long, balance double",
        [
            F.expr(scoring.rfm_json(
                scoring.recency_score("pdays"),
                scoring.frequency_score("previous"),
                scoring.monetary_score("balance"),
            )).alias("rfm"),
            F.expr(scoring.customer_segment(
                scoring.recency_score("pdays"),
                scoring.frequency_score("previous"),
                scoring.monetary_score("balance"),
            )).alias("seg"),
        ],
    )
    tiers = {"low_value": 0, "medium_value": 2, "high_value": 3, "premium": 4}
    for r in out:
        d = json.loads(r.rfm)
        avg = (d["recency"] + d["frequency"] + d["monetary"]) / 3.0
        if avg >= 4:
            assert r.seg == "premium"
        elif avg >= 3:
            assert r.seg == "high_value"
        elif avg >= 2:
            assert r.seg == "medium_value"
        else:
            assert r.seg == "low_value"
        assert tiers[r.seg] <= avg or r.seg == "low_value"
