"""Round-15 batch B: graph-index staging v2 + add-batch maintenance —
the staged HNSW layer-1 artifacts (r14 verdict item 1) and the
append-only insert whose probe-side top-R merge must equal a
frozen-quantizer rebuild exactly (r14 verdict item 2)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import clustering, similarity
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return tables.load(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def maintained(spark, emb, tmp_path_factory):
    """Graph index built on the base split, then the batch inserted
    with the quantizer frozen — the incremental-screen convention."""
    d = str(tmp_path_factory.mktemp("gidx"))
    base = emb.filter(F.col("vec_id") % 5 != 0)
    similarity.build_graph_index(base, d)
    similarity.add_to_graph_index(
        spark, d, emb.filter(F.col("vec_id") % 5 == 0)
    )
    return d


@pytest.mark.slowtier
def test_build_stages_all_artifacts(spark, emb, tmp_path):
    d = str(tmp_path / "g")
    similarity.build_graph_index(emb, d)
    for sub in (
        "adjacency", "adjacency1", "entrygrid", "entries", "nodes",
        "centroids",
    ):
        assert os.path.exists(os.path.join(d, sub, "_SUCCESS")), sub
    adj = spark.read.parquet(f"{d}/adjacency")
    assert {"src", "dst", "dvec", "_sim"} <= set(adj.columns)
    # layer 1 holds only the 1-in-8 id-residue sample
    a1 = spark.read.parquet(f"{d}/adjacency1")
    assert a1.filter(F.col("src") % 8 != 0).count() == 0
    # entry grid is cells^2 - cells rows of model parameters
    n_cells = spark.read.parquet(f"{d}/entries").count()
    assert (
        spark.read.parquet(f"{d}/entrygrid").count()
        == n_cells * (n_cells - 1)
    )


@pytest.mark.slowtier
def test_hnsw_staged_layer1_matches_self_built(spark, emb, tmp_path):
    d = str(tmp_path / "g2")
    similarity.build_graph_index(emb, d)
    q = similarity.corpus_queries(emb, n=3)
    cents = similarity.load_ivf_centroids(spark, d)
    adj1 = (
        spark.read.parquet(f"{d}/adjacency1")
        .select("src", "dst", "dvec")
        .unionByName(spark.read.parquet(f"{d}/entrygrid"))
        .dropDuplicates(["src", "dst"])
    )
    staged = similarity.hnsw_topk(
        emb, q, k=5, cents=cents,
        adj0=spark.read.parquet(f"{d}/adjacency").select(
            "src", "dst", "dvec"
        ),
        adj1=adj1,
        entries=spark.read.parquet(f"{d}/entries"),
    )
    self_built = similarity.hnsw_topk(emb, q, k=5, cents=cents)
    assert sorted(map(tuple, staged.collect())) == sorted(
        map(tuple, self_built.collect())
    )


def test_add_equals_frozen_rebuild_adjacency(spark, emb, maintained):
    """The core maintenance contract: effective (top-R merged)
    adjacency of the maintained index == the adjacency a frozen-
    quantizer rebuild over the full corpus would produce."""
    cents = similarity.load_ivf_centroids(spark, maintained)
    scorer = similarity._centroid_scorer(cents)
    corpus = similarity.assign_cells(emb, len(cents), scorer=scorer)
    rebuilt = similarity.graph_adjacency(corpus, 8).select(
        "src", "dst"
    )
    effective = similarity.effective_graph_adjacency(
        spark, maintained, 8
    ).select("src", "dst")
    assert sorted(map(tuple, effective.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_add_updates_entries_to_full_corpus_min(spark, emb, maintained):
    cents = similarity.load_ivf_centroids(spark, maintained)
    scorer = similarity._centroid_scorer(cents)
    corpus = similarity.assign_cells(emb, len(cents), scorer=scorer)
    want = {
        (int(r.cell), int(r.vec_id))
        for r in corpus.groupBy("cell")
        .agg(F.min("vec_id").alias("vec_id"))
        .collect()
    }
    got = {
        (int(r.cell), int(r.vec_id))
        for r in spark.read.parquet(f"{maintained}/entries").collect()
    }
    assert got == want


def test_graph_index_stats_invariants(spark, emb, maintained):
    rows = similarity.graph_index_stats(spark, maintained).collect()
    assert rows
    n_total = emb.count()
    assert sum(r.n_base + r.n_added for r in rows) == n_total
    for r in rows:
        assert 0 <= r.n_live <= r.n_stored
        assert 0.0 <= r.stale_share < 1.0
    # the insert appended SOMETHING beyond the live set somewhere
    assert sum(r.n_stored for r in rows) >= sum(r.n_live for r in rows)


@pytest.mark.slowtier
def test_second_batch_stays_rebuild_exact(spark, emb, tmp_path):
    """Two sequential inserts: stored rows accumulate append-only,
    yet the effective adjacency still equals the frozen rebuild —
    the monotone enter-top-R argument across batches."""
    d = str(tmp_path / "g3")
    base = emb.filter(F.col("vec_id") % 5 == 1)
    similarity.build_graph_index(base, d)
    similarity.add_to_graph_index(
        spark, d, emb.filter(F.col("vec_id") % 5 == 2)
    )
    similarity.add_to_graph_index(
        spark, d, emb.filter(~F.col("vec_id").__mod__(5).isin(1, 2))
    )
    cents = similarity.load_ivf_centroids(spark, d)
    scorer = similarity._centroid_scorer(cents)
    corpus = similarity.assign_cells(emb, len(cents), scorer=scorer)
    rebuilt = similarity.graph_adjacency(corpus, 8).select("src", "dst")
    effective = similarity.effective_graph_adjacency(spark, d, 8).select(
        "src", "dst"
    )
    assert sorted(map(tuple, effective.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
