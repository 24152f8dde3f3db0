"""Round-14 operators, batch A: incremental IVF index maintenance —
the add-batch path, the growth/skew monitor, and the staleness
(recall-vs-rebuild) check (r13 verdict item 4)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import similarity as S
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR


def _split(spark):
    emb = tables.load(spark, SF_DIR, "embeddings")
    return (
        emb,
        emb.filter(F.col("vec_id") % 5 != 0),
        emb.filter(F.col("vec_id") % 5 == 0),
    )


@pytest.mark.slowtier
def test_add_batch_equals_frozen_quantizer_rebuild(spark, tmp_path):
    """The maintained index (build on base + add batch) must hold the
    EXACT same (vec_id, cell) assignment a from-scratch assignment of
    the full corpus against the frozen base-trained centroids gives —
    add-batch is an optimization, never a semantic change."""
    emb, base, batch = _split(spark)
    d = str(tmp_path / "ivf")
    S.build_ivf_index(base, d)
    S.add_to_ivf_index(spark, d, batch)
    got = {
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(f"{d}/cells").collect()
    }
    cents = S.load_ivf_centroids(spark, d)
    scorer = S._centroid_scorer(cents)
    want = {
        (r.vec_id, int(r.cell))
        for r in S.assign_cells(emb, len(cents), scorer=scorer).collect()
    }
    assert got == want
    assert len(got) == emb.count()


def test_add_batch_is_map_only_over_the_batch(spark, tmp_path):
    """Maintenance must cost O(batch): the append plan reads NEITHER
    the existing cells nor shuffles — assignment is a pure projection
    with literal centroids."""
    emb, base, batch = _split(spark)
    d = str(tmp_path / "ivf")
    S.build_ivf_index(base, d)
    cents = S.load_ivf_centroids(spark, d)
    scorer = S._centroid_scorer(cents)
    plan = (
        S.assign_cells(batch, len(cents), scorer=scorer)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "cells" not in plan  # never scans the existing index


def test_cell_growth_conserves_and_flags_additions(spark, tmp_path):
    emb, base, batch = _split(spark)
    d = str(tmp_path / "ivf")
    S.build_ivf_index(base, d)
    S.add_to_ivf_index(spark, d, batch)
    rows = S.ivf_cell_stats(spark, d).collect()
    assert sum(r.n_base for r in rows) == base.count()
    assert sum(r.n_added for r in rows) == batch.count()
    assert all(0.0 <= r.added_share <= 1.0 for r in rows)
    assert any(r.n_added > 0 for r in rows)
    # sorted by cell, no duplicate cells
    cells = [r.cell for r in rows]
    assert cells == sorted(set(cells))


@pytest.mark.slowtier
def test_staleness_recall_vs_rebuild(spark, tmp_path):
    """The recall-vs-rebuild check: a maintained index (frozen
    quantizer) may trail a fresh full-corpus rebuild, but must stay a
    working index — measured against brute-force exact top-10. At
    sf0.001 the measured points are 0.72 (maintained) vs 0.82
    (rebuild); the floors below leave noise margin while proving the
    add-batch path did not collapse recall."""
    emb, base, batch = _split(spark)
    q = S.corpus_queries(emb, n=5)
    exact = {
        (r.query_id, r.vec_id)
        for r in S.brute_force_topk(emb, q, k=10).collect()
    }
    d1 = str(tmp_path / "maint")
    S.build_ivf_index(base, d1)
    S.add_to_ivf_index(spark, d1, batch)
    maint = {
        (r.query_id, r.vec_id)
        for r in S.probe_ivf_index(spark, d1, q, k=10).collect()
    }
    d2 = str(tmp_path / "full")
    S.build_ivf_index(emb, d2)
    full = {
        (r.query_id, r.vec_id)
        for r in S.probe_ivf_index(spark, d2, q, k=10).collect()
    }
    r_maint = len(maint & exact) / len(exact)
    r_full = len(full & exact) / len(exact)
    assert r_maint >= 0.5, r_maint
    # staleness cost is bounded: the frozen quantizer gives up at most
    # 0.25 absolute recall vs the fresh rebuild at this scale
    assert r_maint >= r_full - 0.25, (r_maint, r_full)


def test_chunk_dup_rollup_hand_worked(spark):
    """Crafted corpus: block A is shared by docs 1 and 2 (one chunk
    each), block D repeats WITHIN doc 4 only — cross-doc filtering
    must flag the A chunks and nothing else."""
    from banking_data_etl_pipeline_spark.operators import dedup

    def block(word, n=32):
        return " ".join(f"{word}{i}" for i in range(n))

    a, bb, c, dd, e = (block(w) for w in ["alpha", "beta", "gam", "del", "eps"])
    docs = spark.createDataFrame(
        [
            (1, a + " " + bb),   # chunks: A, B
            (2, a + " " + c),    # chunks: A, C
            (3, e),              # unique single chunk
            (4, dd + " " + dd),  # same block twice, same doc
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks, r.dup_chunk_share)
        for r in dedup.chunk_dup_rollup(docs).collect()
    }
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (1, 0, 0.0)
    # within-doc repetition is NOT cross-doc duplication
    assert got[4] == (2, 0, 0.0)


def test_chunk_dup_rollup_plans_no_pair_stage(spark):
    """The chunk-level LSH must keep the banded-join shape: no
    cartesian, no nested-loop — the minhash_lsh_pairs guarantee
    holds at chunk granularity."""
    from banking_data_etl_pipeline_spark.operators import dedup

    docs = tables.load(spark, SF_DIR, "documents")
    plan = (
        dedup.chunk_dup_rollup(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slowtier
def test_hnsw_returns_full_topk_and_navigates_cells(spark):
    """Two-layer HNSW: every query — INCLUDING the one that is itself
    the global entry point — gets exactly k results, never itself,
    and the descent escapes the entry's own cell (the entry grid is
    doing its navigation job)."""
    from pyspark.sql import functions as F

    from banking_data_etl_pipeline_spark.operators import clustering

    emb = tables.load(spark, SF_DIR, "embeddings")
    q = S.corpus_queries(emb, n=5)
    out = S.hnsw_topk(emb, q, k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.vec_id != r.query_id
    assert len(by_q) == 5
    assert all(len(v) == 10 for v in by_q.values())
    # the global entry (min vec_id overall = min entry id) IS one of
    # the 5 lowest-id queries — its descent must not starve
    gid = min(r.vec_id for r in emb.select("vec_id").collect())
    assert gid in by_q
    # navigation: results span more than one quantizer cell
    cents = clustering.train_centroids(emb, 16, 2)
    scorer = S._centroid_scorer(cents)
    cells = {
        r.vec_id: int(r.cell)
        for r in S.assign_cells(emb, 16, scorer=scorer).collect()
    }
    assert len({cells[r.vec_id] for r in out}) > 1


@pytest.mark.slowtier
def test_hnsw_recall_floor_vs_brute(spark):
    """Sanity floor on these near-random fixture embeddings (graph
    ANN recall is inherently weak when vectors are ~orthogonal): the
    hierarchical probe must stay in the single-layer NSW's measured
    band, not collapse to zero."""
    emb = tables.load(spark, SF_DIR, "embeddings")
    q = S.corpus_queries(emb, n=5)
    exact = {
        (r.query_id, r.vec_id)
        for r in S.brute_force_topk(emb, q, k=10).collect()
    }
    got = {
        (r.query_id, r.vec_id)
        for r in S.hnsw_topk(emb, q, k=10).collect()
    }
    assert len(got & exact) / len(exact) >= 0.05


@pytest.mark.slowtier
def test_ivfpq_add_batch_equals_frozen_rebuild(spark, tmp_path):
    """The maintained IVFPQ codes (build on base + add batch) must
    equal a from-scratch encode of the full corpus under the SAME
    frozen centroids and codebooks — cell AND all m code columns."""
    emb, base, batch = _split(spark)
    d = str(tmp_path / "ivfpq")
    S.build_ivfpq_index(base, d)
    S.add_to_ivfpq_index(spark, d, batch)
    got = {
        (r.vec_id, int(r.cell), r.c0, r.c1, r.c2, r.c3)
        for r in spark.read.parquet(f"{d}/codes").collect()
    }
    cents = S.load_ivf_centroids(spark, d)
    brows = spark.read.parquet(f"{d}/books").collect()
    bmap = {}
    for r in brows:
        bmap.setdefault(int(r.j), {})[int(r.cid)] = list(r.cvec)
    books = [[bmap[j][c] for c in sorted(bmap[j])] for j in sorted(bmap)]
    scorer = S._centroid_scorer(cents)
    corpus = S.assign_cells(emb, len(cents), scorer=scorer)
    want = {
        (r.vec_id, int(r.cell), r.c0, r.c1, r.c2, r.c3)
        for r in corpus.select(
            "vec_id",
            "cell",
            *S._pq_enc_cols(books, F.col("v"), 4, len(books[0][0])),
        ).collect()
    }
    assert got == want
    assert len(got) == emb.count()


def test_shard_plan_invariants(spark):
    """Conservation + contiguity: every token lands in exactly one
    shard, shard ids are dense from 0, docs are assigned in id order
    (first/last ranges never interleave), and every full shard start
    boundary advances by >= shard_tokens of cumulative mass."""
    from banking_data_etl_pipeline_spark.operators import sampling
    from banking_data_etl_pipeline_spark.functions import texttools

    docs = tables.load(spark, SF_DIR, "documents")
    rows = sorted(
        sampling.shard_plan(docs).collect(), key=lambda r: r.shard_id
    )
    total = docs.select(
        F.sum(texttools.token_count(F.col("text"))).alias("t")
    ).collect()[0].t
    assert sum(r.n_tokens for r in rows) == total
    assert sum(r.n_docs for r in rows) == docs.count()
    ids = [r.shard_id for r in rows]
    assert ids[0] == 0 and ids == sorted(set(ids))
    for a, b in zip(rows, rows[1:]):
        assert a.last_doc < b.first_doc  # id-ordered, non-interleaved


def test_shard_plan_no_single_partition_exchange(spark):
    """The prefix sum must stay distributed: no Exchange
    SinglePartition anywhere in the plan (the bare global running-sum
    window it replaces ships every row through one reducer)."""
    from banking_data_etl_pipeline_spark.operators import sampling

    docs = tables.load(spark, SF_DIR, "documents")
    plan = (
        sampling.shard_plan(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" in plan.lower()
