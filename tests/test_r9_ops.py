"""Round-9 operators: exact ROC AUC (Mann–Whitney with average-rank
ties), calibration/reliability bins with ECE terms (the k-core tests
live in test_graph.py). Value parity is the oracle gate's job; these
pin hand-computed formulas on tiny frames and the structural
invariants a hash match can't express (tie handling, bin clamping)."""

from __future__ import annotations

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import profiling


# ------------------------------------------------------------- AUC


def _auc(spark, rows):
    df = spark.createDataFrame(rows, "score double, label boolean")
    return profiling.score_auc(df, "score", "label").collect()[0]


def test_auc_hand_computed_with_ties(spark):
    # ranks asc: 0.5 -> 1; the two 0.8s tie -> avg rank 2.5; 0.9 -> 4
    # R+ = 4 + 2.5 = 6.5; AUC = (6.5 - 2*3/2) / (2*2) = 0.875
    # cross-check by pair counting: 3 wins + 1 half-tie = 3.5 / 4
    r = _auc(
        spark,
        [(0.9, True), (0.8, False), (0.8, True), (0.5, False)],
    )
    assert (r.n, r.n_pos, r.n_neg) == (4, 2, 2)
    assert r.auc == 0.875
    assert r.gini == round(2 * 0.875 - 1, 6)


def test_auc_perfect_and_inverted_and_degenerate(spark):
    perfect = _auc(spark, [(0.9, True), (0.8, True), (0.1, False)])
    assert perfect.auc == 1.0
    inverted = _auc(spark, [(0.1, True), (0.8, False), (0.9, False)])
    assert inverted.auc == 0.0 and inverted.gini == -1.0
    # all one class: undefined, NULL not a crash
    degen = _auc(spark, [(0.5, True), (0.7, True)])
    assert degen.auc is None and degen.n_neg == 0


def test_auc_all_tied_is_half(spark):
    r = _auc(spark, [(0.5, True), (0.5, False), (0.5, True), (0.5, False)])
    assert r.auc == 0.5


def test_auc_partition_invariant(spark):
    rows = [(float(i % 13) / 13.0, i % 3 == 0) for i in range(200)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    a = profiling.score_auc(df, "score", "label").collect()[0]
    b = profiling.score_auc(
        df.repartition(17), "score", "label"
    ).collect()[0]
    assert a.auc == b.auc and a.n_pos == b.n_pos


# ----------------------------------------------------- calibration


def test_calibration_hand_computed(spark):
    # bin 0: scores .05/.05, one positive -> mean .05, rate .5
    # bin 9: score 1.0 CLAMPS into bin 9 with .95 -> mean .975, rate 1
    rows = [(0.05, True), (0.05, False), (0.95, True), (1.0, True)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = {
        r.bin: r
        for r in profiling.calibration_bins(df, "score", "label").collect()
    }
    assert set(out) == {0, 9}
    b0, b9 = out[0], out[9]
    assert (b0.n, b0.n_pos, b0.mean_score, b0.obs_rate) == (2, 1, 0.05, 0.5)
    assert b0.gap == round(0.5 - 0.05, 6)
    assert b0.ece_term == round(2 / 4 * 0.45, 6)
    assert (b9.n, b9.n_pos, b9.mean_score, b9.obs_rate) == (2, 2, 0.975, 1.0)
    assert b9.ece_term == round(2 / 4 * 0.025, 6)


def test_calibration_perfectly_calibrated_score_has_zero_ece(spark):
    # in each bin the score equals the empirical rate exactly
    rows = []
    for i in range(10):
        s = i / 10.0 + 0.05
        pos = round(s * 20)
        rows += [(s, True)] * pos + [(s, False)] * (20 - pos)
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = profiling.calibration_bins(df, "score", "label").collect()
    assert len(out) == 10
    assert all(r.gap == 0.0 and r.ece_term == 0.0 for r in out)
    assert sum(r.n for r in out) == 200


# --------------------------------------------------- hard negatives


def test_hard_negatives_mining_invariants(spark):
    from banking_data_etl_pipeline_spark.operators import retrieval
    from banking_data_etl_pipeline_spark.sources import tables
    from conftest import SF_DIR

    docs = tables.load(spark, SF_DIR, "documents")
    out = retrieval.hard_negatives(docs, k_neg=5, pool=20).collect()
    hits = {
        (r.query_id, r.doc_id): r
        for r in retrieval.bm25_topk(docs, k=21).collect()
    }
    src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    pos_of = {q: d for (q, d), r in hits.items() if r.rank == 1}
    assert out, "mining returned nothing on the fixture"
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        # positive is the BM25 rank-1 hit, and negatives never share
        # its source (the false-negative guard)
        assert all(r.pos_doc_id == pos_of[q] for r in rows)
        assert all(src[r.doc_id] != src[pos_of[q]] for r in rows)
        # negatives come from the pooled candidates with their pooled
        # scores, ranked densely from 1 by (score desc, doc_id asc)
        rows.sort(key=lambda r: r.neg_rank)
        assert [r.neg_rank for r in rows] == list(range(1, len(rows) + 1))
        assert all(r.score == hits[(q, r.doc_id)].score for r in rows)
        scores = [(-r.score, r.doc_id) for r in rows]
        assert scores == sorted(scores)
        assert len(rows) <= 5


# ------------------------------------------------------ MMR rerank


def test_mmr_rerank_matches_python_greedy_reference(spark):
    """Differential check: replay the greedy MMR walk in plain Python
    (same max-normalized relevance, 6-dp cosines, 0.5/0.5 objective,
    (objective desc, doc_id asc) ties) and demand identical pick
    sequences per query."""
    import math

    from banking_data_etl_pipeline_spark.operators import retrieval
    from banking_data_etl_pipeline_spark.sources import tables
    from conftest import SF_DIR

    docs = tables.load(spark, SF_DIR, "documents")
    emb = tables.load(spark, SF_DIR, "embeddings")
    out = retrieval.mmr_rerank(docs, emb, n_select=5, pool=20).collect()

    hits = retrieval.bm25_topk(docs, k=20).collect()
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
            na += float(x) * float(x)
            nb += float(y) * float(y)
        d = math.sqrt(na) * math.sqrt(nb)
        return round(dot / d, 6) if d else 0.0

    by_q: dict[int, list] = {}
    for r in hits:
        by_q.setdefault(r.query_id, []).append(r)
    expect: dict[int, list[int]] = {}
    for q, rows in by_q.items():
        mx = max(r.score for r in rows)
        rel = {r.doc_id: r.score / mx for r in rows}
        first = min(rows, key=lambda r: r.rank).doc_id
        sel, rem = [first], [r.doc_id for r in rows if r.doc_id != first]
        while len(sel) < 5 and rem:
            best = min(
                rem,
                key=lambda d: (
                    -(0.5 * rel[d]
                      - 0.5 * max(cos(vecs[d], vecs[s]) for s in sel)),
                    d,
                ),
            )
            sel.append(best)
            rem.remove(best)
        expect[q] = sel
    got: dict[int, list[int]] = {}
    for r in sorted(out, key=lambda r: (r.query_id, r.pick)):
        got.setdefault(r.query_id, []).append(r.doc_id)
    assert got == expect
    # every pick carries the normalized relevance, rounded
    relmap = {}
    for q, rows in by_q.items():
        mx = max(r.score for r in rows)
        for r in rows:
            relmap[(q, r.doc_id)] = round(r.score / mx, 6)
    assert all(r.rel == relmap[(r.query_id, r.doc_id)] for r in out)


# ------------------------------------------------------------ nDCG


def test_ndcg_matches_python_reference_and_bounds(spark):
    """Differential: recompute DCG/IDCG in plain Python from the
    collected hits + term-coverage grades (same 12-dp term rounding)
    and demand identical 6-dp results; plus the metric's bounds."""
    import math

    from banking_data_etl_pipeline_spark.operators import retrieval
    from banking_data_etl_pipeline_spark.functions import texttools
    from banking_data_etl_pipeline_spark.sources import tables
    from conftest import SF_DIR

    docs = tables.load(spark, SF_DIR, "documents")
    out = {r.query_id: r for r in retrieval.ndcg_at_k(docs).collect()}
    hits = retrieval.bm25_topk(docs, k=10).collect()
    tk = docs.select(
        "doc_id", F.explode(texttools.tokens(F.col("text"))).alias("token")
    )
    qt = retrieval.derived_query_terms(tk).collect()
    terms_of = {}
    for r in qt:
        terms_of.setdefault(r.query_id, set()).add(r.token)
    doc_tokens = {
        r.doc_id: set(r.toks)
        for r in docs.select(
            "doc_id", texttools.tokens(F.col("text")).alias("toks")
        ).collect()
    }
    by_q: dict[int, list] = {}
    for h in hits:
        by_q.setdefault(h.query_id, []).append(h)
    for q, rows in by_q.items():
        grades = {
            h.doc_id: len(terms_of[q] & doc_tokens[h.doc_id]) for h in rows
        }
        dcg = sum(
            round((2.0 ** grades[h.doc_id] - 1.0) / math.log2(h.rank + 1.0), 12)
            for h in rows
        )
        ideal = sorted(rows, key=lambda h: (-grades[h.doc_id], h.doc_id))
        idcg = sum(
            round((2.0 ** grades[h.doc_id] - 1.0) / math.log2(i + 2.0), 12)
            for i, h in enumerate(ideal)
        )
        r = out[q]
        assert r.dcg == round(dcg, 6)
        assert r.idcg == round(idcg, 6)
        assert r.ndcg == round(dcg / idcg, 6)
        # bounds: dcg <= idcg always, and every retrieved doc contains
        # a query term (score > 0), so grades >= 1 and ndcg in (0, 1]
        assert 0.0 < r.ndcg <= 1.0
        assert r.dcg <= r.idcg
