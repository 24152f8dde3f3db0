"""Round-10 second batch: t-closeness (ordered EMD), duplication
profile, k-center coreset, mSPRT sequential monitor (the HITS tests
live in test_graph.py). Value parity is the oracle gate's job; these
pin hand-computed fixtures and the structural invariants a hash match
can't express (EMD closed form, greedy selection order,
always-valid-p monotonicity)."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import (
    dedup,
    expectations,
    experiments,
    sampling,
)


# ----------------------------------------------------- t-closeness


def test_t_closeness_hand_computed_ordered_emd(spark):
    # global ages {1: 4/5, 2: 1/5}, m=2 so EMD = |q1 - p1|
    # class A (all age 1): |1 - 0.8| = 0.2 ; class B (1,2): |0.5-0.8|=0.3
    df = spark.createDataFrame(
        [("A", 1), ("A", 1), ("A", 1), ("B", 1), ("B", 2)],
        "grp string, age int",
    )
    got = {
        r.grp: r
        for r in expectations.t_closeness(df, ["grp"], "age", t=0.25).collect()
    }
    assert got["A"].emd == 0.2 and got["A"].n == 3 and not got["A"].at_risk
    assert got["B"].emd == 0.3 and got["B"].n == 2 and got["B"].at_risk


def test_t_closeness_identical_distribution_is_zero(spark):
    df = spark.createDataFrame(
        [("A", v) for v in (1, 2, 3)] + [("B", v) for v in (1, 2, 3)],
        "grp string, age int",
    )
    rows = expectations.t_closeness(df, ["grp"], "age", t=0.1).collect()
    assert all(r.emd == 0.0 and not r.at_risk for r in rows)


def test_t_closeness_missing_values_zero_filled(spark):
    # class B never shows age 3 — the dense grid must still walk it
    df = spark.createDataFrame(
        [("A", 3)] * 3 + [("B", 1)],
        "grp string, age int",
    )
    got = {r.grp: r for r in expectations.t_closeness(df, ["grp"], "age").collect()}
    # p = (1/4, 3/4); class B q = (1, 0): cum |1-0.25| = 0.75
    assert got["B"].emd == 0.75 and got["A"].emd == 0.25


# ----------------------------------------------------- dup profile


def test_dup_profile_fraction(spark):
    docs = spark.createDataFrame(
        [(1, "a b c x y z"), (2, "a b c q")],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: r for r in dedup.dup_profile(docs, min_tokens=3).collect()
    }
    assert (got[1].n_tokens, got[1].dup_tokens, got[1].dup_frac) == (6, 3, 0.5)
    assert (got[2].n_tokens, got[2].dup_tokens, got[2].dup_frac) == (4, 3, 0.75)


def test_dup_profile_clean_docs_zero(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id bigint, text string",
    )
    rows = dedup.dup_profile(docs, min_tokens=3).collect()
    assert all(r.dup_tokens == 0 and r.dup_frac == 0.0 for r in rows)
    assert len(rows) == 2  # clean docs still reported


# ------------------------------------------------ k-center coreset


def test_kcenter_greedy_selection_order(spark):
    emb = spark.createDataFrame(
        [(1, [0.0]), (2, [1.0]), (3, [10.0]), (4, [4.0])],
        "vec_id bigint, embedding array<double>",
    )
    rows = sampling.kcenter_coreset(emb, k=4).collect()
    got = [(r.sel_rank, r.vec_id, r.dist) for r in sorted(rows)]
    # seed = min id; then farthest-first: id3 (d=100), id4 (min(16,36)=16),
    # id2 (min(1,81,9)=1)
    assert got == [(1, 1, 0.0), (2, 3, 100.0), (3, 4, 16.0), (4, 2, 1.0)]


def test_kcenter_radius_sequence_non_increasing(spark):
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(100)
    rows = sorted(
        sampling.kcenter_coreset(emb, k=6).collect(), key=lambda r: r.sel_rank
    )
    dists = [r.dist for r in rows[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))
    assert len({r.vec_id for r in rows}) == 6


# -------------------------------------------------- mSPRT monitor


def test_msprt_always_valid_p_monotone(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rows = sorted(
        experiments.msprt_monitor(ev).collect(), key=lambda r: r.day
    )
    assert rows, "expected at least one daily peek"
    ps = [r.p_always_valid for r in rows]
    assert all(a >= b for a, b in zip(ps, ps[1:]))  # running min
    assert all(0.0 < p <= 1.0 for p in ps)
    assert all(r.lambda_ratio > 0.0 for r in rows)
    # cumulative arm counts never decrease
    for col in ("n_treat", "n_ctrl"):
        seq = [r[col] for r in rows]
        assert all(a <= b for a, b in zip(seq, seq[1:]))
    # reject flag is exactly the alpha cut on the running-min p
    assert all(r.reject_h0 == (r.p_always_valid < 0.05) or
               abs(r.p_always_valid - 0.05) < 1e-9 for r in rows)


# ----------------------------------------------------------- WOE/IV


def test_woe_iv_hand_computed_with_smoothing(spark):
    from banking_data_etl_pipeline_spark.operators import profiling

    df = spark.createDataFrame(
        [("a", 1), ("a", 0), ("b", 0), ("b", 0)], "f string, lab int"
    )
    rows = {r.category: r for r in profiling.woe_iv(df, ["f"], "lab").collect()}
    # tot_pos=1, tot_neg=3, k=2: dp_a=1.5/2=.75 dn_a=1.5/4=.375 -> ln 2
    dp_a, dn_a = 0.75, 0.375
    dp_b, dn_b = 0.25, 0.625
    assert rows["a"].woe == round(math.log(dp_a / dn_a), 6)
    assert rows["b"].woe == round(math.log(dp_b / dn_b), 6)  # negative, no ln(0)
    iv = rows["a"].iv
    t12 = lambda x: math.floor(x * 1e12) / 1e12
    expect = round(
        t12((dp_a - dn_a) * math.log(dp_a / dn_a))
        + t12((dp_b - dn_b) * math.log(dp_b / dn_b)),
        6,
    )
    assert iv == expect and rows["b"].iv == iv  # feature-level constant


def test_woe_iv_multi_feature_independent(spark):
    from banking_data_etl_pipeline_spark.operators import profiling

    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 0), ("b", "x", 0), ("b", "y", 1)],
        "f1 string, f2 string, lab int",
    )
    rows = profiling.woe_iv(df, ["f1", "f2"], "lab").collect()
    feats = {r.feature for r in rows}
    assert feats == {"f1", "f2"}
    # per-feature totals are independent: each feature's rows count 4
    for f in feats:
        assert sum(r.n for r in rows if r.feature == f) == 4


# ------------------------------------------- incremental substring


def test_substr_incremental_only_corpus_spans_reported(spark):
    from banking_data_etl_pipeline_spark.operators import dedup as D

    batch = spark.createDataFrame(
        [
            (10, "the cat sat down today"),     # span in corpus
            (20, "copy paste block here"),      # dup only inside batch
            (25, "copy paste block here"),
        ],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "once the cat sat down"), (2, "unrelated words entirely now")],
        "doc_id bigint, text string",
    )
    got = sorted(
        map(tuple, D.substr_dedup_incremental(batch, corpus, 3).collect())
    )
    # doc 10 positions 0,1 dup ("the cat sat", "cat sat down") -> [0,3]
    assert got == [(10, 0, 3, 4)]


def test_substr_incremental_extents_clip_to_shared_run(spark):
    from banking_data_etl_pipeline_spark.operators import dedup as D

    batch = spark.createDataFrame(
        [(10, "zz the cat sat down qq")], "doc_id bigint, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "the cat sat down")], "doc_id bigint, text string"
    )
    got = sorted(
        map(tuple, D.substr_dedup_incremental(batch, corpus, 3).collect())
    )
    assert got == [(10, 1, 4, 4)]


# ------------------------------------------------- top principal component


@pytest.mark.slowtier
def test_top_pc_recovers_known_direction(spark):
    from banking_data_etl_pipeline_spark.operators import similarity

    # rank-1 cloud along (0.6, 0.8): cov = 2.5 * vv', so the top
    # component is exactly (0.6, 0.8) with eigenvalue 2.5 and
    # explained_frac 1.0
    emb = spark.createDataFrame(
        [(i, [t * 0.6, t * 0.8]) for i, t in enumerate([-2.0, -1.0, 1.0, 2.0])],
        "vec_id bigint, embedding array<double>",
    )
    rows = sorted(
        similarity.top_principal_component(emb, iters=8).collect()
    )
    assert [r.pos for r in rows] == [0, 1]
    assert abs(rows[0].loading - 0.6) < 1e-6
    assert abs(rows[1].loading - 0.8) < 1e-6
    assert rows[0].eigenvalue == 2.5 and rows[0].explained_frac == 1.0


def test_top_pc_unit_norm_and_partition_invariant(spark):
    from banking_data_etl_pipeline_spark.operators import similarity

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(150)
    a = sorted(similarity.top_principal_component(emb, iters=3).collect())
    norm = math.sqrt(sum(r.loading**2 for r in a))
    assert abs(norm - 1.0) < 1e-5
    assert 0.0 < a[0].explained_frac <= 1.0
    b = sorted(
        similarity.top_principal_component(
            emb.repartition(7), iters=3
        ).collect()
    )
    assert a == b


# --------------------------------------------------- streaming mSPRT


def test_stream_msprt_batch_equivalent(spark):
    from banking_data_etl_pipeline_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, Q.stream_msprt(spark, sf).collect()))
    want = sorted(map(tuple, Q.msprt_monitor(spark, sf).collect()))
    assert got == want and len(got) > 0


# ------------------------------------------------------- MRR / curriculum


def test_mrr_consistent_with_rank(spark):
    from banking_data_etl_pipeline_spark.operators import retrieval

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = retrieval.mrr_at_k(docs).collect()
    assert rows
    for r in rows:
        if r.first_rel_rank is None:
            assert r.rr == 0.0 and not r.hit
        else:
            assert 1 <= r.first_rel_rank <= 10 and r.hit
            assert r.rr == round(1.0 / r.first_rel_rank, 6)


def test_curriculum_order_is_staged_permutation(spark):
    from banking_data_etl_pipeline_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, "tok " * (1 + i % 7)) for i in range(40)],
        "doc_id bigint, text string",
    )
    rows = sorted(
        sampling.curriculum_order(docs, n_stages=4).collect(),
        key=lambda r: r.emit_order,
    )
    assert [r.emit_order for r in rows] == list(range(1, 41))
    stages = [r.stage for r in rows]
    assert stages == sorted(stages)  # stage blocks in order
    # easy -> hard across stage boundaries (sorted total order)
    for s in (1, 2, 3):
        left = max(r.n_tokens for r in rows if r.stage == s)
        right = min(r.n_tokens for r in rows if r.stage == s + 1)
        assert left <= right
    # within a stage, emit order follows the md5 hash, not doc order
    s1 = [r.doc_id for r in rows if r.stage == 1]
    assert s1 != sorted(s1)


# --------------------------------------------------- Bradley-Terry


def test_bt_strengths_recovers_dominance(spark):
    from banking_data_etl_pipeline_spark.operators import profiling

    # quality separation >> jitter (0.3): the panel is unanimous, so
    # BT strength order must equal the quality order
    docs = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine ten " * 10),
            (2, "word " * 4),
            (3, "@@@@ #### $$$$ %%%%"),
        ],
        "doc_id bigint, text string",
    )
    rows = sorted(
        profiling.bt_strengths(docs, top_n=3, judges=3, iters=6).collect(),
        key=lambda r: r.rank,
    )
    assert [r.doc_id for r in rows] == [1, 2, 3]
    assert rows[0].strength > rows[1].strength > rows[2].strength
    assert all(r.games == 6 for r in rows)  # 2 opponents x 3 judges
    # total wins across docs = total decided games / 2 sides
    assert sum(r.wins for r in rows) == 3 * 3  # pairs x judges


def test_bt_strengths_mean_one_normalized(spark):
    from banking_data_etl_pipeline_spark.operators import profiling

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = profiling.bt_strengths(docs, top_n=8, judges=3, iters=4).collect()
    assert len(rows) == 8
    assert abs(sum(r.strength for r in rows) / 8 - 1.0) < 1e-4
    assert len({r.rank for r in rows}) == 8


# ------------------------------------------------------------- RM3


@pytest.mark.slowtier
def test_rm3_scores_dominate_plain_bm25(spark):
    from banking_data_etl_pipeline_spark.operators import retrieval

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = {
        (r.query_id, r.doc_id): r.score
        for r in retrieval.bm25_topk(docs, k=10).collect()
    }
    rm3 = retrieval.rm3_topk(docs, k=10).collect()
    assert len(rm3) == 50
    # expansion only ADDS non-negative weighted contributions (the +1
    # idf floor keeps every term score >= 0), so any doc present in
    # both rankings scores at least its plain-BM25 value under RM3
    for r in rm3:
        key = (r.query_id, r.doc_id)
        if key in base:
            assert r.score >= base[key] - 1e-9
    # ranks are 1..10 per query
    per_q = {}
    for r in rm3:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, 11)) for v in per_q.values())


@pytest.mark.slowtier
def test_rm3_partition_invariant(spark):
    from banking_data_etl_pipeline_spark.operators import retrieval

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, retrieval.rm3_topk(docs, k=5).collect()))
    spark.catalog.clearCache()
    b = sorted(
        map(tuple, retrieval.rm3_topk(docs.repartition(13), k=5).collect())
    )
    assert a == b


# -------------------------------------------------------------- CDC


def test_cdc_chunks_partition_corpus_exactly(spark):
    from banking_data_etl_pipeline_spark.operators import corpus as C

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(60)
    rows = C.cdc_chunks(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    toks = {
        r.doc_id: r.n
        for r in docs.selectExpr(
            "doc_id", "size(filter(split(lower(text), '\\\\s+'), x -> x != '')) AS n"
        ).collect()
    }
    for did, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        # chunks tile the token range exactly: contiguous, disjoint,
        # complete
        assert chunks[0].start_tok == 0
        assert chunks[-1].end_tok == toks[did] - 1
        for a, b in zip(chunks, chunks[1:]):
            assert b.start_tok == a.end_tok + 1
            assert b.chunk_idx == a.chunk_idx + 1
        assert sum(c.n_tokens for c in chunks) == toks[did]


def test_cdc_chunks_content_defined_shift_stability(spark):
    from banking_data_etl_pipeline_spark.operators import corpus as C

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    docs = spark.createDataFrame(
        [(1, base), (2, "PREFIX INSERTED HERE " + base)],
        "doc_id bigint, text string",
    )
    rows = C.cdc_chunks(docs).collect()
    h1 = {r.chunk_hash for r in rows if r.doc_id == 1}
    h2 = {r.chunk_hash for r in rows if r.doc_id == 2}
    # the defining CDC property: despite the shifted offsets, the
    # shared region re-chunks identically — most of doc 1's chunk
    # hashes reappear in doc 2 (a fixed-width chunker would share none)
    assert len(h1 & h2) >= max(1, len(h1) - 2)
