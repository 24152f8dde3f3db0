"""Round-8c operators: market-basket association rules, chi-square
independence screen, CUPED variance reduction. Value parity is the
oracle gate's job; these pin the SEMANTIC invariants a hash match
can't express — hand-computed formulas on tiny frames, conservation
laws, and partitioning-invariance of the hash-armed report."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import (
    experiments,
    profiling,
    relational,
)
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR


def test_market_basket_metrics_match_hand_computation(spark):
    # 4 baskets: {1,2} x3 co-occurrences via orders 10,11,12; {1,3} x1
    rows = [
        (10, 1), (10, 2),
        (11, 1), (11, 2),
        (12, 1), (12, 2), (12, 3),
        (13, 3),
    ]
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    out = {
        (r.part_a, r.part_b): r
        for r in relational.market_basket(li, min_pair_orders=1).collect()
    }
    n_orders = 4
    r12 = out[(1, 2)]
    assert r12.pair_n == 3 and r12.cnt_a == 3 and r12.cnt_b == 3
    assert r12.support == round(3 / n_orders, 6)
    assert r12.confidence == round(3 / 3, 6)
    assert r12.lift == round(3 * n_orders / (3 * 3), 6)
    r13 = out[(1, 3)]
    assert r13.pair_n == 1 and r13.cnt_b == 2
    assert r13.lift == round(1 * n_orders / (3 * 2), 6)


@pytest.mark.slowtier
def test_market_basket_pair_counts_conserve_basket_choose2(spark):
    li = tables.load(spark, SF_DIR, "lineitem")
    all_pairs = relational.market_basket(
        li, min_pair_orders=1, top=10**9
    )
    total_pairs = all_pairs.agg(F.sum("pair_n")).first()[0]
    expected = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .count()
        .agg(F.sum(F.expr("count * (count - 1) / 2")))
        .first()[0]
    )
    assert total_pairs == int(expected)


def test_market_basket_cap_drops_big_baskets_whole(spark):
    rows = [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11)]
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    out = relational.market_basket(
        li, min_pair_orders=1, max_basket=2
    ).collect()
    # order 1 (3 parts) dropped whole; only order 2's single pair left
    assert len(out) == 1
    r = out[0]
    assert (r.part_a, r.part_b, r.pair_n) == (10, 11, 1)
    # n_orders counts only retained baskets
    assert r.support == round(1 / 1, 6)


def test_chi2_zero_for_exactly_independent_table(spark):
    rows = (
        [("a", "x")] * 25 + [("a", "y")] * 25
        + [("b", "x")] * 25 + [("b", "y")] * 25
    )
    df = spark.createDataFrame(rows, ["f1", "tgt"])
    r = profiling.chi2_independence(df, ["f1"], "tgt").first()
    assert r.chi2 == 0.0 and r.cramers_v == 0.0
    assert r.n == 100 and r.dof == 1


def test_chi2_matches_hand_computed_2x2(spark):
    # o = [[30, 10], [20, 40]]
    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10
        + [("b", "x")] * 20 + [("b", "y")] * 40
    )
    df = spark.createDataFrame(rows, ["f1", "tgt"])
    r = profiling.chi2_independence(df, ["f1"], "tgt").first()
    n = 100
    chi2 = 0.0
    for o, rt, ct in [(30, 40, 50), (10, 40, 50), (20, 60, 50), (40, 60, 50)]:
        e = rt * ct / n
        chi2 += (o - e) ** 2 / e
    assert r.chi2 == round(chi2, 6)
    assert r.cramers_v == round(math.sqrt(chi2 / (n * 1)), 6)
    assert r.dof == 1 and r.levels == 2 and r.classes == 2


def test_chi2_n_conserves_input_rows(spark):
    df = tables.load(spark, SF_DIR, "events").select(
        F.col("event_type").alias("f1"),
        (F.col("user_id") % 2).cast("string").alias("tgt"),
    )
    r = profiling.chi2_independence(df, ["f1"], "tgt").first()
    assert r.n == df.count()


def test_cuped_report_arms_partition_users(spark):
    ev = tables.load(spark, SF_DIR, "events")
    r = experiments.cuped_report(ev).first()
    assert r.n_treat + r.n_ctrl == r.n_users
    assert r.n_users == ev.select("user_id").distinct().count()
    # CUPED never increases variance (optimal-theta identity)
    assert r.var_adj <= r.var_y
    assert r.var_reduction_pct >= 0.0


def test_cuped_report_is_partitioning_invariant(spark):
    ev = tables.load(spark, SF_DIR, "events")
    a = experiments.cuped_report(ev).first()
    b = experiments.cuped_report(ev.repartition(7, "event_type")).first()
    assert a.asDict() == b.asDict()


def test_cuped_matches_hand_computation_on_known_users(spark):
    # x perfectly predicts y for 6 users -> var_adj ~ 0, big reduction
    rows = []
    for uid in range(6):
        x = float(uid + 1)
        rows.append((uid, "2024-01-10 00:00:00", x))       # pre
        rows.append((uid, "2024-01-20 00:00:00", 2.0 * x))  # post
    ev = spark.createDataFrame(
        rows, ["user_id", "ts_s", "value"]
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    r = experiments.cuped_report(ev).first()
    assert r.n_users == 6
    assert r.theta == 2.0
    assert r.var_adj == 0.0
    assert r.var_reduction_pct == 100.0


def test_theta_sketch_is_exact_when_k_covers_the_sets(spark):
    from banking_data_etl_pipeline_spark.operators import sketches

    ev = tables.load(spark, SF_DIR, "events")
    out = sketches.theta_intersections(ev, k=10**6).collect()
    assert len(out) == 10  # C(5,2) event-type pairs
    for r in out:
        # theta saturates at 1.0 -> the sketch IS the full set
        assert r.theta == 1.0
        assert r.est_intersection == float(r.exact_intersection)
        assert r.est_union == float(r.exact_union)


def test_theta_sketch_bounds_and_error_at_default_k(spark):
    from banking_data_etl_pipeline_spark.operators import sketches

    ev = tables.load(spark, SF_DIR, "events")
    out = sketches.theta_intersections(ev, k=128).collect()
    for r in out:
        assert 0 < r.theta <= 1.0
        assert r.n_candidates <= 128
        assert r.est_union >= r.est_intersection
        # KMV at k=128 on ~hundreds-sized sets: loose sanity bound
        assert r.rel_error < 0.5, r


def test_dp_counts_deterministic_and_scales_with_epsilon(spark):
    from banking_data_etl_pipeline_spark.operators import expectations

    ev = tables.load(spark, SF_DIR, "events")
    a = expectations.dp_counts(ev, epsilon=1.0).collect()
    b = expectations.dp_counts(ev, epsilon=1.0).collect()
    assert a == b
    half = {
        (r.grp, r.day): r.noise
        for r in expectations.dp_counts(ev, epsilon=2.0).collect()
    }
    for r in a:
        assert abs(half[(r.grp, r.day)] - r.noise / 2.0) < 1e-5


def test_dp_counts_conserves_true_totals_and_clamps(spark):
    from banking_data_etl_pipeline_spark.operators import expectations

    ev = tables.load(spark, SF_DIR, "events")
    out = expectations.dp_counts(ev).collect()
    assert sum(r.true_n for r in out) == ev.count()
    for r in out:
        assert r.released_n >= 0
        assert r.abs_err == round(abs(r.released_n - r.true_n), 6)


def test_bucketed_join_plans_zero_exchanges_before_the_join(spark, tmp_path):
    import hashlib
    import os

    from banking_data_etl_pipeline_spark.sources import sinks

    orders = tables.load(spark, SF_DIR, "orders")
    customer = tables.load(spark, SF_DIR, "customer")
    fp = hashlib.md5(f"planpin|{os.getpid()}".encode()).hexdigest()[:12]
    to = sinks.write_bucketed(
        spark, orders, f"bj_o_{fp}", str(tmp_path / "o"), "o_custkey"
    )
    tc = sinks.write_bucketed(
        spark, customer, f"bj_c_{fp}", str(tmp_path / "c"), "c_custkey"
    )
    o, c = spark.table(to), spark.table(tc)
    joined = o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # the whole point: bucketing replaces BOTH shuffle exchanges
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan
    # and the data still round-trips
    assert joined.count() == orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).count()


def test_maxsim_reduces_to_cosine_ranking_at_m1(spark):
    from banking_data_etl_pipeline_spark.operators import similarity

    emb = tables.load(spark, SF_DIR, "embeddings")
    q = similarity.corpus_queries(emb, n=3)
    ms = {
        (r.query_id, r.vec_id): r.maxsim
        for r in similarity.maxsim_topk(emb, q, k=5, m=1).collect()
    }
    bf = {
        (r.query_id, r.vec_id): r.cosine
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    assert set(ms) == set(bf)
    for key, v in ms.items():
        assert v == bf[key]


def test_maxsim_duplicate_vector_scores_m_and_ranks_first(spark):
    from banking_data_etl_pipeline_spark.operators import similarity

    base = [float(i % 7) + 1.0 for i in range(64)]
    other = [float((i * 3) % 5) - 2.0 for i in range(64)]
    emb = spark.createDataFrame(
        [(1, base), (2, base), (3, other)],
        ["vec_id", "embedding"],
    )
    q = emb.filter("vec_id = 1").selectExpr(
        "vec_id AS query_id", "embedding AS qvec"
    )
    out = similarity.maxsim_topk(emb, q, k=2, m=4).collect()
    top = [r for r in out if r.rank == 1][0]
    # the exact duplicate wins every slice: score = m * 1.0
    assert top.vec_id == 2 and top.maxsim == 4.0
    ranks = sorted(r.rank for r in out)
    assert ranks == [1, 2]


def test_textrank_hub_word_outranks_leaves(spark):
    from banking_data_etl_pipeline_spark.operators import corpus

    # 'hub' co-occurs with 6 distinct words; each leaf only with hub
    docs = spark.createDataFrame(
        [
            (1, "hub alpha hub beta hub gamma"),
            (2, "hub delta hub epsilon hub zeta"),
        ],
        ["doc_id", "text"],
    )
    out = corpus.textrank_keywords(docs, top=10).collect()
    scores = {r.token: r.score for r in out}
    assert max(scores, key=scores.get) == "hub"
    top = [r for r in out if r.rank == 1][0]
    assert top.token == "hub"
    # ranks dense, scores non-increasing
    rs = sorted(out, key=lambda r: r.rank)
    assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
    assert all(
        rs[i].score >= rs[i + 1].score for i in range(len(rs) - 1)
    )


@pytest.mark.slowtier
def test_textrank_ignores_stopwords_and_is_repartition_invariant(spark):
    from banking_data_etl_pipeline_spark.operators import corpus

    docs = tables.load(spark, SF_DIR, "documents").limit(50)
    a = corpus.textrank_keywords(docs).collect()
    assert all(
        r.token not in {"the", "and", "of", "to", "in"} for r in a
    )
    b = corpus.textrank_keywords(docs.repartition(5)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@pytest.mark.slowtier
def test_pq_prebuilt_probe_equals_telescoped_and_skips_embeddings(
    spark, tmp_path
):
    from banking_data_etl_pipeline_spark.operators import similarity

    emb = tables.load(spark, SF_DIR, "embeddings")
    q = similarity.corpus_queries(emb, n=3)
    path = str(tmp_path / "pq")
    similarity.build_pq_index(emb, path)
    probed = similarity.probe_pq_index(spark, path, q, k=5)
    direct = similarity.pq_topk(emb, q, k=5)
    assert sorted(map(tuple, probed.collect())) == sorted(
        map(tuple, direct.collect())
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # the CORPUS side scans only the m code columns — the embedding
    # array never leaves the build phase (the query side legitimately
    # reads its 5 query vectors from embeddings.parquet)
    code_scans = [ln for ln in scan_lines if "c0" in ln]
    assert code_scans, scan_lines
    assert all("embedding" not in ln for ln in code_scans), code_scans


def test_srm_counts_match_python_md5_arms(spark):
    import hashlib

    ev = tables.load(spark, SF_DIR, "events")
    r = experiments.srm_check(ev).first()
    uids = [u.user_id for u in ev.select("user_id").distinct().collect()]
    n1 = sum(int(hashlib.md5(str(u).encode()).hexdigest()[0], 16) % 2
             for u in uids)
    assert r.n_users == len(uids)
    assert r.n_treat == n1 and r.n_ctrl == len(uids) - n1
    n, e = len(uids), len(uids) / 2.0
    chi2 = (n1 - e) ** 2 / e + ((n - n1) - e) ** 2 / e
    assert r.chi2_srm == round(chi2, 6)
    assert r.srm_detected == (chi2 > 3.841)


def test_stream_srm_equals_batch(spark):
    from banking_data_etl_pipeline_spark.queries import _stream_src_dir
    from banking_data_etl_pipeline_spark.streaming import events as EV

    d = _stream_src_dir(SF_DIR, "events")
    s = EV.srm_stream(spark, d).first()
    b = experiments.srm_check(
        tables.load(spark, SF_DIR, "events")
    ).first()
    assert s.asDict() == b.asDict()


def test_judge_agreement_cells_partition_the_corpus(spark):
    from banking_data_etl_pipeline_spark.operators import corpus

    docs = tables.load(spark, SF_DIR, "documents")
    r = corpus.judge_agreement(docs).first()
    assert r.n11 + r.n10 + r.n01 + r.n00 == r.n
    assert r.n == docs.count()
    assert -1.0 <= r.kappa <= 1.0
    assert r.po == round((r.n11 + r.n00) / r.n, 6)


def test_judge_agreement_kappa_is_one_for_identical_judges(spark):
    from banking_data_etl_pipeline_spark.operators.corpus import (
        KAPPA_PE,
        KAPPA_PO,
    )

    # perfect agreement with mixed marginals -> po=1, kappa=1
    stats = spark.createDataFrame(
        [(10, 6, 0, 0, 4)], ["n", "n11", "n10", "n01", "n00"]
    )
    r = stats.selectExpr(
        f"round({KAPPA_PO}, 6) AS po",
        f"round(({KAPPA_PO} - ({KAPPA_PE}))"
        f" / nullif(CAST(1 AS DOUBLE) - ({KAPPA_PE}), 0.0), 6) AS kappa",
    ).first()
    assert r.po == 1.0 and r.kappa == 1.0


def test_bootstrap_ci_brackets_the_mean_and_is_deterministic(spark):
    orders = tables.load(spark, SF_DIR, "orders")
    a = experiments.bootstrap_ci(orders).first()
    b = experiments.bootstrap_ci(orders.repartition(5)).first()
    assert a.asDict() == b.asDict()
    assert a.ci_lo <= a.est_mean <= a.ci_hi
    assert a.se_boot > 0
    assert a.n_rows == orders.count() and a.b_replicas == 32


def test_bootstrap_weights_are_poisson1_like(spark):
    from banking_data_etl_pipeline_spark.operators.experiments import (
        POISSON1_CDF,
        poisson1_weight_sql,
    )

    # the CASE maps uniforms to weights with Poisson(1) masses; mean
    # weight over many deterministic uniforms ~ 1
    df = spark.range(20000).selectExpr(
        "CAST(conv(substring(md5(CAST(id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) / CAST(4294967296 AS DOUBLE) AS u"
    )
    w = df.selectExpr(f"{poisson1_weight_sql('u')} AS w")
    mean_w = w.agg(F.avg("w")).first()[0]
    assert abs(mean_w - 1.0) < 0.05
    assert len(POISSON1_CDF) == 6


def test_did_matches_hand_computation_with_md5_arms(spark):
    import hashlib

    rows = []
    per_user = {}
    for uid in range(8):
        x = float(uid + 1)
        y = 2.0 * x + 3.0
        per_user[uid] = (x, y)
        rows.append((uid, "2024-01-10 00:00:00", x))
        rows.append((uid, "2024-01-20 00:00:00", y))
    ev = spark.createDataFrame(
        rows, ["user_id", "ts_s", "value"]
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    r = experiments.did_report(ev).first()
    arms = {
        u: int(hashlib.md5(str(u).encode()).hexdigest()[0], 16) % 2
        for u in per_user
    }
    g1 = [per_user[u] for u in per_user if arms[u] == 1]
    g0 = [per_user[u] for u in per_user if arms[u] == 0]
    did = (
        sum(y for _, y in g1) / len(g1) - sum(x for x, _ in g1) / len(g1)
    ) - (
        sum(y for _, y in g0) / len(g0) - sum(x for x, _ in g0) / len(g0)
    )
    assert r.n_treat == len(g1) and r.n_ctrl == len(g0)
    assert abs(r.did - did) < 1e-6
    # d = y - x = x + 3: var(d) > 0 unless an arm is a single user
    assert r.se_did is not None


def test_orc_roundtrip_equals_parquet_aggregate(spark):
    from banking_data_etl_pipeline_spark import queries as Q

    out = Q.orc_roundtrip(spark, SF_DIR).collect()
    direct = (
        tables.load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_events"),
            F.expr("CAST(count(DISTINCT user_id) AS BIGINT)").alias("n_users"),
            F.expr(
                "round(CAST(sum(CAST(value AS DECIMAL(18,6)))"
                " AS DOUBLE), 4)"
            ).alias("sum_value"),
            F.expr("unix_micros(min(ts))").alias("first_us"),
            F.expr("unix_micros(max(ts))").alias("last_us"),
        )
        .orderBy("event_type")
        .collect()
    )
    assert out == direct


def test_winnow_guarantees_shared_fingerprint_for_long_runs(spark):
    from banking_data_etl_pipeline_spark.operators import dedup

    # k=3, w=4: any shared run of >= w+k-1 = 6 tokens MUST yield a
    # shared fingerprint (the winnowing guarantee)
    run = "alpha bravo charlie delta echo foxtrot"
    docs = spark.createDataFrame(
        [
            (1, f"one two {run} three four five six"),
            (2, f"seven eight nine ten {run} eleven twelve"),
            (3, "totally different text with no overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    out = dedup.winnow_pairs(docs, min_shared=1).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_winnow_selects_every_window_min(spark):
    from banking_data_etl_pipeline_spark.operators import dedup

    docs = tables.load(spark, SF_DIR, "documents").limit(30)
    out = dedup.winnow_pairs(docs, min_shared=1, top=10**6)
    # overlap is a valid containment fraction
    for r in out.collect():
        assert 0 < r.overlap <= 1.0
        assert r.n_shared <= min(r.fp_a, r.fp_b)
