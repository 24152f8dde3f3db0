"""Round-15 batch C: the ANN deletion lifecycle — tombstone sets,
probe-time masking across IVF / IVFPQ / graph, the live-fraction
monitor, and the delete == rebuild-without-deleted equality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import similarity
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return tables.load(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def q(spark, emb):
    return similarity.corpus_queries(emb, n=3)


def test_probe_unchanged_without_tombstones(spark, emb, q, tmp_path):
    d = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, d)
    assert similarity.load_tombstones(spark, d) is None
    out = similarity.probe_ivf_index(spark, d, q, k=5)
    assert out.count() == 15


@pytest.mark.slowtier
def test_masked_probe_equals_rebuild_without_deleted(
    spark, emb, q, tmp_path
):
    """Tombstone mask at probe == rebuilding the cells from survivors
    with the SAME frozen quantizer."""
    from banking_data_etl_pipeline_spark.operators import clustering

    cents = clustering.train_centroids(emb, 16, 2)
    # two indexes sharing ONE explicit quantizer: full corpus +
    # tombstones vs survivors-only rebuild
    d1 = str(tmp_path / "full")
    scorer = similarity._centroid_scorer(cents)
    assigned = similarity.assign_cells(emb, 16, scorer=scorer)
    assigned.write.partitionBy("cell").parquet(f"{d1}/cells")
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "cid int, cvec array<double>",
    ).coalesce(1).write.parquet(f"{d1}/centroids")
    similarity.tombstone_index(
        spark, d1, emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    )
    masked = similarity.probe_ivf_index(spark, d1, q, k=5)

    d2 = str(tmp_path / "survivors")
    surv = assigned.filter(F.col("vec_id") % 3 != 0)
    surv.write.partitionBy("cell").parquet(f"{d2}/cells")
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "cid int, cvec array<double>",
    ).coalesce(1).write.parquet(f"{d2}/centroids")
    rebuilt = similarity.probe_ivf_index(spark, d2, q, k=5)
    assert sorted(map(tuple, masked.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_tombstones_accumulate_append_only(spark, emb, tmp_path):
    d = str(tmp_path / "acc")
    similarity.build_ivf_index(emb, d)
    similarity.tombstone_index(
        spark, d, emb.filter(F.col("vec_id") % 11 == 0).select("vec_id")
    )
    similarity.tombstone_index(
        spark, d, emb.filter(F.col("vec_id") % 13 == 0).select("vec_id")
    )
    ts = {r.vec_id for r in similarity.load_tombstones(spark, d).collect()}
    want = {
        r.vec_id
        for r in emb.filter(
            (F.col("vec_id") % 11 == 0) | (F.col("vec_id") % 13 == 0)
        )
        .select("vec_id")
        .collect()
    }
    assert ts == want


@pytest.mark.slowtier
def test_graph_mask_excludes_only_results(spark, emb, q):
    """Graph tombstone semantic: deleted nodes are excluded from the
    RESULT ranking (contiguous ranks over survivors) but remain
    traversable — the unmasked and masked runs share candidates, so
    every masked result also appears in a wider unmasked ranking."""
    mask = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    masked = similarity.nsw_topk(emb, q, k=5, mask=mask).collect()
    assert masked
    assert all(r.vec_id % 3 != 0 for r in masked)
    for qid in {r.query_id for r in masked}:
        ranks = sorted(r.rank for r in masked if r.query_id == qid)
        assert ranks == list(range(1, len(ranks) + 1))
    wide = {
        (r.query_id, r.vec_id)
        for r in similarity.nsw_topk(emb, q, k=40, ef=64).collect()
    }
    assert all((r.query_id, r.vec_id) in wide for r in masked)


@pytest.mark.slowtier
def test_ivfpq_probe_masks_tombstones(spark, emb, q, tmp_path):
    d = str(tmp_path / "pq")
    similarity.build_ivfpq_index(emb, d)
    before = similarity.probe_ivfpq_index(spark, emb, d, q, k=5).collect()
    deleted_ids = {r.vec_id for r in before[:3]}
    similarity.tombstone_index(
        spark,
        d,
        spark.createDataFrame(
            [(int(i),) for i in deleted_ids], "vec_id bigint"
        ),
    )
    after = similarity.probe_ivfpq_index(spark, emb, d, q, k=5).collect()
    assert all(r.vec_id not in deleted_ids for r in after)


def test_live_stats_flags_dead_cells(spark, emb, tmp_path):
    d = str(tmp_path / "live")
    similarity.build_ivf_index(emb, d)
    similarity.tombstone_index(
        spark, d, emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    )
    rows = similarity.ivf_live_stats(spark, d, threshold=0.8).collect()
    assert rows
    n_total = emb.count()
    assert sum(r.n_total for r in rows) == n_total
    for r in rows:
        assert 0.0 <= r.live_frac <= 1.0
        assert r.needs_compaction == (r.live_frac < 0.8)
    # ~half the corpus deleted: at least one cell must flag
    assert any(r.needs_compaction for r in rows)
