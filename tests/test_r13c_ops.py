"""Round-13 operators, batch C: the ATE/ATT/ATC summary and the
native PNG tEXt chunk walk (the graph diameter tests live in
test_graph.py)."""

from __future__ import annotations

from banking_data_etl_pipeline_spark.multimodal import binaryops
from banking_data_etl_pipeline_spark.operators import experiments
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR


def test_ate_report_hand_worked(spark):
    """Two strata, hand-computable: stratum X (2 treated of 4, rates
    1.0 vs 0.5), stratum Y (1 of 3, rates 0 vs 0.5)."""
    rows = [
        # age, balance, housing, loan, y  — stratum keys derive from
        # age_group(age) and wealth_segment(balance)
        (25, 100.0, "yes", "no", "yes"),
        (26, 110.0, "yes", "no", "yes"),
        (27, 120.0, "no", "no", "yes"),
        (28, 130.0, "no", "no", "no"),
        (65, 100.0, "yes", "no", "no"),
        (66, 110.0, "no", "no", "yes"),
        (67, 120.0, "no", "no", "no"),
    ]
    df = spark.createDataFrame(
        rows, "age int, balance double, housing string, loan string,"
        " y string"
    )
    out = experiments.ate_report(df).collect()[0]
    assert (out.n, out.n_treated, out.n_control) == (7, 3, 4)
    assert out.n_strata_used == 2
    # naive: treated rate 2/3, control rate 2/4
    assert out.diff_naive == round(2 / 3 - 2 / 4, 6)
    # stratum X: d = 1.0 - 0.5 = 0.5 (n_s 4, n_t 2, n_c 2)
    # stratum Y: d = 0.0 - 0.5 = -0.5 (n_s 3, n_t 1, n_c 2)
    assert out.ate == round((0.5 * 4 - 0.5 * 3) / 7, 6)
    assert out.att == round((0.5 * 2 - 0.5 * 1) / 3, 6)
    assert out.atc == round((0.5 * 2 - 0.5 * 2) / 4, 6)


def test_png_text_chunks_walks_real_boundaries(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    media = binaryops.synthesize_png(docs)
    got = {
        r.media_id: (r.key, r.value)
        for r in binaryops.png_text_chunks(media).collect()
    }
    want = {
        r.doc_id: ("Source", r.source)
        for r in docs.select("doc_id", "source").collect()
    }
    assert got == want
    # the walk is native: no Python/Arrow stage in the plan
    plan = (
        binaryops.png_text_chunks(media)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # synthesize_png itself is Arrow (zlib) — but the extractor adds
    # no second Python stage
    assert plan.count("MapInPandas") == 1, plan
