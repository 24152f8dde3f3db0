"""Round-8 operators: weighted sampling, nucleus curation, bottom-k
source overlap, Q21-shaped bottleneck suppliers, last-touch
attribution, Zipf fit, and the IVF-armed rank fusion. Value parity is
the oracle gate's job; these pin the SEMANTIC properties a hash match
can't express (sampling monotonicity, mass budgets, estimator error,
cross-check vs a correlated-subquery reference)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import (
    relational,
    sampling,
    sketches,
)
from banking_data_etl_pipeline_spark.operators.corpus import zipf_fit
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR


def test_weighted_sample_is_deterministic_and_weight_monotone(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    a = sorted(tuple(r) for r in sampling.weighted_sample(docs, n=100).collect())
    b = sorted(
        tuple(r)
        for r in sampling.weighted_sample(docs.repartition(7), n=100).collect()
    )
    assert a == b
    assert len(a) == 100
    # A-ES property: the sampled set's mean weight should exceed the
    # corpus mean weight (higher-weight docs win more often)
    full = sampling.weighted_sample(docs, n=docs.count())
    mean_all = full.agg(F.avg("weight")).first()[0]
    mean_sampled = sum(r[1] for r in a) / len(a)
    assert mean_sampled > mean_all


def test_weighted_sample_respects_extreme_weights(spark):
    # a doc with enormous weight is (almost) always sampled before one
    # with tiny weight: verify keys scale inversely with weight by
    # construction — same u, 100x weight => 100x smaller key
    docs = tables.load(spark, SF_DIR, "documents")
    out = {r.doc_id: (r.weight, r.skey) for r in
           sampling.weighted_sample(docs, n=500).collect()}
    # keys are positive and finite
    assert all(k > 0 for (_w, k) in out.values())


def test_quality_topp_mass_budget(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    kept = sampling.quality_topp(docs, p="0.8")
    per = (
        kept.groupBy("source")
        .agg(F.sum("q").alias("kept_mass"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # totals per source from scratch
    from banking_data_etl_pipeline_spark.functions import texttools

    tot = {
        r.source: r.t
        for r in docs.select(
            "source",
            F.round(texttools.quality_score(F.col("text")), 6).alias("q"),
        )
        .groupBy("source")
        .agg(F.sum("q").alias("t"))
        .collect()
    }
    for r in per:
        # the kept prefix holds at most p of the mass BEFORE its last
        # row, so kept mass is < p*total + one max-quality doc (q<=1)
        assert r.kept_mass < 0.8 * tot[r.source] + 1.0 + 1e-6
        # and the NEXT row would push past p: kept >= p*total - 1
        assert r.kept_mass > 0.8 * tot[r.source] - 1.0 - 1e-6


def test_source_jaccard_estimator_tracks_exact(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    rows = sketches.source_bottomk_jaccard(docs, k=64).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_union_k <= 64
        assert 0 <= r.n_both <= r.n_union_k
        # bottom-64 resemblance estimate: within 0.25 absolute of the
        # exact Jaccard (std err ~ sqrt(J(1-J)/k) ~ 0.06, allow 4 sigma)
        assert abs(r.est_jaccard - r.exact_jaccard) <= 0.25, (
            r.source_a, r.source_b, r.est_jaccard, r.exact_jaccard,
        )


def test_bottleneck_suppliers_matches_correlated_reference(spark):
    # cross-check the aggregation rewrite against the literal
    # EXISTS/NOT-EXISTS formulation run through Spark SQL
    li = tables.load(spark, SF_DIR, "lineitem")
    sup = tables.load(spark, SF_DIR, "supplier")
    li.createOrReplaceTempView("li")
    sup.createOrReplaceTempView("sup")
    ref = spark.sql(
        """
        SELECT s.s_suppkey, s.s_name, count(*) AS numwait FROM (
          SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
          FROM li l1
          WHERE l1.l_shipdate = (SELECT max(l2.l_shipdate) FROM li l2
                                 WHERE l2.l_orderkey = l1.l_orderkey)
            AND EXISTS (SELECT 1 FROM li l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (
              SELECT 1 FROM li l4
              WHERE l4.l_orderkey = l1.l_orderkey
                AND l4.l_suppkey <> l1.l_suppkey
                AND l4.l_shipdate >= l1.l_shipdate)
        ) w JOIN sup s ON w.l_suppkey = s.s_suppkey
        GROUP BY s.s_suppkey, s.s_name
        """
    )
    got = sorted(
        tuple(r) for r in relational.bottleneck_suppliers(li, sup).collect()
    )
    want = sorted(tuple(r) for r in ref.collect())
    assert got == want


def test_last_touch_attribution_semantics(spark):
    rows = [
        # user 1: click -> purchase -> view -> purchase
        (1, "2024-01-01 10:00:00", 1, "click"),
        (2, "2024-01-01 10:05:00", 1, "purchase"),
        (3, "2024-01-01 10:10:00", 1, "view"),
        (4, "2024-01-01 10:20:00", 1, "purchase"),
        # user 2: purchase with no prior touch
        (5, "2024-01-01 09:00:00", 2, "purchase"),
        # user 2: two touches, second wins
        (6, "2024-01-01 09:30:00", 2, "click"),
        (7, "2024-01-01 09:40:00", 2, "signup"),
        (8, "2024-01-01 09:50:00", 2, "purchase"),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, t) for (i, ts, u, t) in rows],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r.event_id: (r.attr_type, r.attr_event_id, r.gap_us)
        for r in relational.last_touch_attribution(ev).collect()
    }
    assert got[2] == ("click", 1, 300_000_000)
    # purchases never attribute to purchases: event 4 credits the view
    assert got[4] == ("view", 3, 600_000_000)
    assert got[5] == (None, None, None)
    assert got[8] == ("signup", 7, 600_000_000)


def test_zipf_fit_shape(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    r = zipf_fit(docs, n=100).first()
    # the synthetic corpus vocabulary may be smaller than n
    assert 1 < r.n_terms <= 100
    # frequency is non-increasing in rank => slope strictly negative;
    # a log-log line should explain most of the variance
    assert r.slope < 0
    assert 0 <= r.r2 <= 1


@pytest.mark.slowtier
def test_rank_fusion_ann_differs_only_in_sem_arm(spark):
    from banking_data_etl_pipeline_spark.operators import retrieval

    docs = tables.load(spark, SF_DIR, "documents")
    emb = tables.load(spark, SF_DIR, "embeddings")
    brute = retrieval.hybrid_rank_fusion(docs, emb, sem_arm="brute")
    ivf = retrieval.hybrid_rank_fusion(docs, emb, sem_arm="ivf")
    b = {(r.query_id, r.doc_id) for r in brute.collect()}
    i = {(r.query_id, r.doc_id) for r in ivf.collect()}
    # same query set, same k, same lexical arm: heavy overlap expected,
    # but the approximate semantic arm may shift the tail
    assert len(b) == len(i) == 50
    assert len(b & i) >= 30
    import pytest

    with pytest.raises(ValueError, match="sem_arm"):
        retrieval.hybrid_rank_fusion(docs, emb, sem_arm="bogus")


def test_stream_attribution_reattributes_across_batches(spark, tmp_path):
    """Out-of-order retroactivity: a touch that ARRIVES after the
    purchase (later micro-batch, earlier event time) must re-attribute
    the purchase — the operator's reason to be stateful."""
    import pandas as pd

    from banking_data_etl_pipeline_spark.streaming import events as EV

    d = tmp_path / "feed"
    d.mkdir()
    # batch 1: the purchase and a stale touch arrive first
    pd.DataFrame(
        {
            "event_id": [10, 20],
            "ts": pd.to_datetime(
                ["2024-01-01 09:00:00", "2024-01-01 10:00:00"]
            ),
            "user_id": [1, 1],
            "event_type": ["click", "purchase"],
            "value": [0.0, 0.0],
            "props": ["{}", "{}"],
        }
    ).to_parquet(d / "a.parquet", coerce_timestamps="us")
    # batch 2: a LATER-arriving touch with event time between them
    pd.DataFrame(
        {
            "event_id": [15],
            "ts": pd.to_datetime(["2024-01-01 09:30:00"]),
            "user_id": [1],
            "event_type": ["view"],
            "value": [0.0],
            "props": ["{}"],
        }
    ).to_parquet(d / "b.parquet", coerce_timestamps="us")
    got = {
        r.event_id: (r.attr_type, r.attr_event_id, r.gap_us)
        for r in EV.attribution_stream(
            spark, str(d), max_files_per_trigger=1
        ).collect()
    }
    # the view (event 15) slots between click and purchase and wins
    assert got[20] == ("view", 15, 30 * 60 * 1_000_000)


def test_quantile_sketch_bounds_and_exactness(spark):
    from banking_data_etl_pipeline_spark.operators import sketches

    li = tables.load(spark, SF_DIR, "lineitem")
    rows = {r.p: r for r in sketches.histogram_quantiles(li).collect()}
    vals = sorted(
        x[0] for x in li.select("l_extendedprice").collect()
    )
    import math

    for p, r in rows.items():
        # exact == the ceil(p*n)-th smallest value, independently
        k = int(math.ceil(p * len(vals)))
        assert abs(r.exact_quantile - round(vals[k - 1], 6)) < 1e-6, p
        # estimate lands within one bin width of the truth
        width = (vals[-1] - vals[0]) / 128
        assert abs(r.est_quantile - r.exact_quantile) <= width + 1e-6, p


def test_quantile_sketch_degenerate_domain_raises(spark):
    import pytest

    from banking_data_etl_pipeline_spark.operators import sketches

    one = spark.createDataFrame([(1.0,)] * 5, "x double")
    with pytest.raises(ValueError, match="degenerate"):
        sketches.histogram_quantiles(one, col="x")
