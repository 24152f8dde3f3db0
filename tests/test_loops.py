"""The loop driver (`session.iterate`) and the operators built on it:
an observed convergence scalar costs no job, a returned loop (or any
query's pinned checkpoint or cache) frees every RDD it stored once its
query scope closes, and the loops give an empty result on degenerate
inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark import queries as Q
from banking_data_etl_pipeline_spark import session as S
from banking_data_etl_pipeline_spark.operators import (
    dedup,
    graph,
    profiling,
    sampling,
    similarity,
)
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR, lineitem_of


def _jobs(spark, group: str, run) -> int:
    """The number of jobs ``run()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _step(df, i, seen):
    # one shuffle per round, the shape of a label or rank update
    return df.groupBy("k").agg(F.sum("v").alias("v")).select(
        ((F.col("k") * 7 + i) % 11).alias("k"), "v"
    )


def test_observed_rounds_cost_the_jobs_of_bare_checkpoints(spark):
    rounds = 4
    start = spark.range(200).select(
        (F.col("id") % 11).alias("k"), F.col("id").alias("v")
    )

    def bare():
        df = start
        for i in range(rounds):
            df = _step(df, i, None).localCheckpoint()

    seen_by_round = []

    def never(prev, seen):
        seen_by_round.append(seen)
        return False

    def looped():
        _, seen, converged = S.iterate(
            start,
            _step,
            rounds,
            observe=[F.count(F.lit(1)).alias("n"), F.max("v").alias("top")],
            until=never,
        )
        assert not converged and seen["n"] > 0

    n_bare = _jobs(spark, "iterate-bare", bare)
    n_looped = _jobs(spark, "iterate-observed", looped)
    assert n_bare >= rounds
    assert n_looped == n_bare
    assert len(seen_by_round) == rounds


def test_iterate_stops_when_until_holds(spark):
    start = spark.range(5).select(F.col("id").alias("x"))
    state, seen, converged = S.iterate(
        start,
        lambda df, i, seen: df.select((F.col("x") + 1).alias("x")),
        10,
        observe=[F.max("x").alias("top")],
        until=lambda prev, seen: seen["top"] >= 7,
    )
    assert converged and seen == {"top": 7}
    assert sorted(r.x for r in state.collect()) == [3, 4, 5, 6, 7]


def _edges(spark, pairs):
    rows = []
    for o, (a, b) in enumerate(p for p in pairs for _ in range(2)):
        rows += [(o, a), (o, b)]
    return spark.createDataFrame(rows, "l_orderkey long, l_partkey long")


def _hits_edges(spark):
    orders = spark.createDataFrame(
        [(0, 1), (1, 1), (2, 2)], "o_orderkey bigint, o_custkey bigint"
    )
    lineitem = spark.createDataFrame(
        [(0, 11), (1, 12), (2, 11)], "l_orderkey bigint, l_partkey bigint"
    )
    return graph.purchase_edges(orders, lineitem)


_PATH = [(1, 2), (2, 3), (3, 4), (2, 4), (10, 11)]
_LOOPS = {
    "pagerank": lambda s: graph.pagerank(
        lineitem_of(s, enumerate([[1, 2, 3], [3, 4]]))
    ),
    "kcore": lambda s: graph.kcore(_edges(s, _PATH), k=2),
    "hits": lambda s: graph.hits(_hits_edges(s), iters=2),
    "bfs_depths": lambda s: graph.bfs_depths(_edges(s, _PATH)),
    "graph_diameter": lambda s: graph.graph_diameter(_edges(s, _PATH)),
    "label_prop": lambda s: graph.label_prop(_edges(s, _PATH)),
    "connected_components": lambda s: dedup.connected_components(
        s.createDataFrame(_PATH, "id_a long, id_b long")
    ),
    "kcenter_coreset": lambda s: sampling.kcenter_coreset(
        tables.load(s, SF_DIR, "embeddings").limit(30), k=3
    ),
    "bt_strengths": lambda s: profiling.bt_strengths(
        tables.load(s, SF_DIR, "documents").limit(40), top_n=6, iters=2
    ),
    "top_principal_component": lambda s: similarity.top_principal_component(
        tables.load(s, SF_DIR, "embeddings").limit(30), iters=2
    ),
}


def _leaves_no_storage(spark, build) -> bool:
    """Whether a closed query scope frees every RDD ``build`` stored.
    Earlier tests' cached plans are cleared first: a persist of a plan
    that is already cached stores nothing new, which would hide it."""
    sc = spark.sparkContext

    def stored():
        return {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}

    S.release_pinned()
    spark.catalog.clearCache()
    before = stored()
    build(spark).collect()
    S.release_pinned()
    return stored() <= before


@pytest.mark.parametrize("op", sorted(_LOOPS))
def test_closed_scope_frees_every_loop_checkpoint(spark, op):
    """``DataFrame.unpersist`` does not free a local checkpoint, so the
    loops used to leave one checkpoint RDD per round in storage."""
    assert _leaves_no_storage(spark, _LOOPS[op])


@pytest.mark.parametrize(
    "name",
    [
        "tfidf_allpairs",  # its returned local checkpoint
        "stream_recovery",
        "stream_recovery_msprt",
        "stream_interval_join",
        "bm25_topk",  # its token postings
        "mmr_rerank",
        "dedup_resolve",  # minhash_lsh_pairs' signatures
        "triangle_count",  # its edge, degree and per-node count caches
        "span_removal",  # its token and positional-shingle caches
        "winnow_dedup",  # its selected fingerprints
        "rank_fusion",  # hybrid_rank_fusion's postings
        "phrase_search",  # its tokenized corpus
        "rm3_expansion",  # rm3_topk's postings
    ],
)
def test_closed_scope_frees_every_query_cache(spark, name):
    """A result materialized by a local checkpoint, or read from a
    persisted intermediate, is pinned to the query scope: nothing the
    query stored outlives it."""
    assert _leaves_no_storage(spark, lambda s: getattr(Q, name)(s, SF_DIR))


_EMB = "vec_id bigint, embedding array<double>"


def test_kcenter_coreset_on_zero_rows_is_empty(spark):
    out = sampling.kcenter_coreset(spark.createDataFrame([], _EMB), k=3)
    assert out.columns == ["sel_rank", "vec_id", "dist"]
    assert out.collect() == []


def test_kcenter_coreset_on_one_row_repeats_its_seed(spark):
    emb = spark.createDataFrame([(7, [1.0, 2.0])], _EMB)
    rows = sampling.kcenter_coreset(emb, k=3).collect()
    assert [(r.sel_rank, r.vec_id, r.dist) for r in rows] == [
        (1, 7, 0.0), (2, 7, 0.0), (3, 7, 0.0)
    ]


@pytest.mark.parametrize("rows", [[], [(7, [1.0, 2.0])]], ids=["zero", "one"])
def test_top_principal_component_without_variance_is_empty(spark, rows):
    out = similarity.top_principal_component(spark.createDataFrame(rows, _EMB))
    assert out.columns == ["pos", "loading", "eigenvalue", "explained_frac"]
    assert out.collect() == []
