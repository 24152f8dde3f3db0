"""Round-15 batch F: lifecycle completion — maintained two-layer
HNSW, and compaction for both the graph (superseded-delta reclaim)
and IVF (tombstone reclaim) indexes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import similarity
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return tables.load(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def maintained(spark, emb, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ginc"))
    base = emb.filter(F.col("vec_id") % 5 != 0)
    similarity.build_graph_index(base, d)
    similarity.add_to_graph_index(
        spark, d, emb.filter(F.col("vec_id") % 5 == 0)
    )
    return d


def test_maintained_layer1_equals_frozen_rebuild(spark, emb, maintained):
    cents = similarity.load_ivf_centroids(spark, maintained)
    scorer = similarity._centroid_scorer(cents)
    corpus = similarity.assign_cells(emb, len(cents), scorer=scorer)
    l1 = corpus.filter(F.pmod(F.col("vec_id"), F.lit(8)) == 0)
    rebuilt = similarity.graph_adjacency(l1, 4).select("src", "dst")
    w = similarity.Window.partitionBy("src").orderBy(
        F.col("_sim").desc(), F.col("dst").asc()
    )
    effective = (
        spark.read.parquet(f"{maintained}/adjacency1")
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 4)
        .select("src", "dst")
    )
    assert sorted(map(tuple, effective.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_graph_compaction_reclaims_and_preserves(spark, emb, maintained):
    """Compaction must leave stored == live in every cell AND leave
    the effective adjacency byte-identical (same top-R rows)."""
    import shutil

    d = str(maintained) + "_cmp"
    shutil.copytree(maintained, d)
    before = sorted(
        map(
            tuple,
            similarity.effective_graph_adjacency(spark, d, 8)
            .select("src", "dst")
            .collect(),
        )
    )
    n_before = spark.read.parquet(f"{d}/adjacency").count()
    similarity.compact_graph_index(spark, d)
    after_rows = spark.read.parquet(f"{d}/adjacency").count()
    assert after_rows <= n_before
    after = sorted(
        map(
            tuple,
            similarity.effective_graph_adjacency(spark, d, 8)
            .select("src", "dst")
            .collect(),
        )
    )
    assert after == before
    stats = similarity.graph_index_stats(spark, d).collect()
    assert all(r.n_stored == r.n_live for r in stats)
    assert all(r.stale_share == 0.0 for r in stats)
    shutil.rmtree(d)


@pytest.mark.slowtier
def test_ivf_compaction_drops_tombstones_same_results(spark, emb, tmp_path):
    d = str(tmp_path / "ivfc")
    similarity.build_ivf_index(emb, d)
    similarity.tombstone_index(
        spark, d, emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    )
    q = similarity.corpus_queries(emb, n=3)
    masked = sorted(
        map(tuple, similarity.probe_ivf_index(spark, d, q, k=5).collect())
    )
    similarity.compact_ivf_index(spark, d)
    assert similarity.load_tombstones(spark, d) is None
    assert not os.path.exists(os.path.join(d, "tombstones"))
    compacted = sorted(
        map(tuple, similarity.probe_ivf_index(spark, d, q, k=5).collect())
    )
    assert compacted == masked
    # deleted rows are physically gone
    cells = spark.read.parquet(f"{d}/cells")
    assert cells.filter(F.col("vec_id") % 3 == 0).count() == 0


def test_ivf_compact_noop_without_tombstones(spark, emb, tmp_path):
    d = str(tmp_path / "noop")
    similarity.build_ivf_index(emb, d)
    n = spark.read.parquet(f"{d}/cells").count()
    similarity.compact_ivf_index(spark, d)
    assert spark.read.parquet(f"{d}/cells").count() == n
